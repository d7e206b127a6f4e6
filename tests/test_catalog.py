"""The catalog's schema memo: a table's schema is inferred once per file
version and session setting, then pinned on later reads."""

from __future__ import annotations

import datetime
import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampNTZType, TimestampType

from xlsx_to_database_spark import catalog

_GROUPS = itertools.count()


@pytest.fixture
def memo(monkeypatch):
    """An empty schema memo for this test only."""
    fresh: dict = {}
    monkeypatch.setattr(catalog, "_SCHEMAS", fresh)
    return fresh


def _jobs_started(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    group = f"catalog-memo-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("name", catalog.TABLES)
def test_memoised_schema_equals_inferring_read(spark, sf_dir, memo, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    first = catalog.table(spark, sf_dir, name)
    assert memo[path][1] == spark.read.parquet(path).schema
    second = catalog.table(spark, sf_dir, name)
    assert second.schema == first.schema


def test_second_read_of_unchanged_file_starts_no_job(spark, sf_dir, memo):
    _, first = _jobs_started(spark, lambda: catalog.table(spark, sf_dir, "orders"))
    assert first, "the inferring read should start a job (footer merge)"
    _, second = _jobs_started(spark, lambda: catalog.table(spark, sf_dir, "orders"))
    assert second == [], second


def _rows(n: int, extra: bool) -> pa.Table:
    cols = {"r_regionkey": list(range(n)), "r_name": [f"r{i}" for i in range(n)]}
    if extra:
        cols["r_comment"] = ["x"] * n
    return pa.table(cols)


@pytest.mark.parametrize("writer", ["pyarrow_file", "spark_directory"])
def test_rewritten_file_with_new_schema_is_reinferred(spark, tmp_path, memo, writer):
    d = str(tmp_path)
    path = os.path.join(d, "region.parquet")

    def write(extra: bool) -> None:
        if writer == "pyarrow_file":
            pq.write_table(_rows(3, extra), path)
        else:
            spark.createDataFrame(_rows(3, extra).to_pylist()).write.mode(
                "overwrite").parquet(path)

    write(extra=False)
    assert "r_comment" not in catalog.table(spark, d, "region").columns
    write(extra=True)
    df = catalog.table(spark, d, "region")
    assert "r_comment" in df.columns
    assert sorted(r.r_comment for r in df.collect()) == ["x"] * 3


def test_nanos_events_read_identically_on_inferring_and_memoised_call(
    spark, tmp_path, memo
):
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, None]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }),
        os.path.join(str(tmp_path), "events.parquet"),
    )

    def read():
        return sorted(
            (r.event_id, r.ts)
            for r in catalog.table(spark, str(tmp_path), "events").collect()
        )

    first, second = read(), read()
    assert len(memo) == 1
    assert first == second
    epoch = datetime.datetime(1970, 1, 1)
    assert first == [
        (1, epoch + datetime.timedelta(microseconds=ns[0] // 1000)),
        (2, epoch + datetime.timedelta(microseconds=ns[1] // 1000)),
        (3, None),
    ]


def test_flipping_infer_timestamp_ntz_changes_the_read_type(spark, tmp_path, memo):
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    d = str(tmp_path)
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array([1], pa.int64()),
            "o_ts": pa.array([datetime.datetime(2030, 1, 1)], pa.timestamp("us")),
        }),
        os.path.join(d, "orders.parquet"),
    )

    def ts_type():
        return catalog.table(spark, d, "orders").schema["o_ts"].dataType

    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert isinstance(ts_type(), TimestampType)
        spark.conf.set(conf, "true")
        assert isinstance(ts_type(), TimestampNTZType)
        spark.conf.set(conf, "false")
        assert isinstance(ts_type(), TimestampType)
    finally:
        spark.conf.set(conf, before)
