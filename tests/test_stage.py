"""Fixture staging (``queries/stage.py``): the build-once policy under
failure and races, and the ops whose reuse or per-call scratch used to
be hand-written."""

from __future__ import annotations

import os
import threading

import pytest

from xlsx_to_database_spark.queries import stage


@pytest.fixture
def stage_root(tmp_path, monkeypatch):
    monkeypatch.setattr(stage, "ROOT", str(tmp_path))
    return tmp_path


def _leftover_builds(root) -> list[str]:
    return [n for n in os.listdir(root) if ".build-" in n]


def test_once_failed_build_leaves_nothing_and_next_call_rebuilds(stage_root):
    calls = []

    def build(p: str) -> None:
        calls.append(p)
        os.makedirs(p)
        with open(os.path.join(p, "half"), "w") as fh:
            fh.write("x")
        if len(calls) == 1:
            raise RuntimeError("build cut short")
        with open(os.path.join(p, "done"), "w") as fh:
            fh.write("ok")

    with pytest.raises(RuntimeError):
        stage.once("/data/sf0.01", "fx", build)
    final = stage.path("/data/sf0.01", "fx")
    assert final == os.path.join(str(stage_root), "sf0.01_fx")
    assert not os.path.exists(final)
    assert _leftover_builds(stage_root) == []

    assert stage.once("/data/sf0.01", "fx", build) == final
    assert sorted(os.listdir(final)) == ["done", "half"]
    assert stage.once("/data/sf0.01", "fx", build) == final
    assert len(calls) == 2, "a complete fixture is reused, not rebuilt"


def test_once_racing_threads_share_one_complete_fixture(stage_root):
    both_building = threading.Barrier(2, timeout=30)

    def build(p: str) -> None:
        os.makedirs(p)
        both_building.wait()  # neither can see a finished fixture yet
        for i in range(50):
            with open(os.path.join(p, f"f{i:02d}"), "w") as fh:
                fh.write(str(threading.get_ident()))

    got, errors = [], []

    def run() -> None:
        try:
            got.append(stage.once("/data/sf0.01", "raced", build))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert got == [stage.path("/data/sf0.01", "raced")] * 2
    files = sorted(os.listdir(got[0]))
    assert files == [f"f{i:02d}" for i in range(50)]
    owners = {open(os.path.join(got[0], f)).read() for f in files}
    assert len(owners) == 1, "the fixture is one builder's output"
    assert _leftover_builds(stage_root) == []


def test_fresh_empties_the_op_directory(stage_root):
    p = stage.fresh("/data/sf0.01", "op")
    os.makedirs(os.path.join(p, "left", "over"))
    assert stage.fresh("/data/sf0.01", "op") == p
    assert not os.path.exists(p)
    assert os.path.isdir(str(stage_root))


def test_ordered_split_rebuilds_after_a_build_cut_short(
    spark, sf_dir, stage_root, monkeypatch
):
    """A build killed between Spark's commit and the utime pass must not
    be reused: the next call rebuilds, and the part files' mtimes follow
    their ts order (10 s apart), which is the order the file source
    replays them in."""
    from xlsx_to_database_spark.queries.streaming import _ordered_split_dir

    real_utime = os.utime

    def killed(*args, **kwargs):
        raise RuntimeError("killed before the replay order was fixed")

    monkeypatch.setattr(os, "utime", killed)
    with pytest.raises(RuntimeError):
        _ordered_split_dir(spark, sf_dir)
    monkeypatch.setattr(os, "utime", real_utime)

    split = _ordered_split_dir(spark, sf_dir)
    parts = sorted(
        f for f in os.listdir(split)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert len(parts) == 3
    mtimes = [os.path.getmtime(os.path.join(split, f)) for f in parts]
    assert [m - mtimes[0] for m in mtimes] == [0, 10, 20]
    assert _leftover_builds(stage_root) == []


@pytest.mark.parametrize(
    "op", ["stream_sink", "stream_foreach_batch", "stream_txn_sink"]
)
def test_stream_sink_reuses_one_output_dir(spark, sf_dir, stage_root, op):
    from xlsx_to_database_spark.registry import all_queries

    stream_out = "/tmp/spark_stream_out"
    before = set(os.listdir(stream_out)) if os.path.isdir(stream_out) else set()
    fn = all_queries()[op]
    n = fn(spark, sf_dir).count()
    staged = sorted(os.listdir(stage_root))
    assert fn(spark, sf_dir).count() == n
    assert sorted(os.listdir(stage_root)) == staged
    assert [s for s in staged if s.endswith(f"_{op}")] == [
        os.path.basename(stage.path(sf_dir, op))
    ]
    after = set(os.listdir(stream_out)) if os.path.isdir(stream_out) else set()
    assert after == before, "no per-call output directory outside the stage"
