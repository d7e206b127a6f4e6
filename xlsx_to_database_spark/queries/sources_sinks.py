"""Source/sink query ops (SURVEY.md §2.1).

Staging strategy: xlsx/csv/json inputs are generated *from the testdata
parquet* into /tmp caches, so every scan op has an exact DuckDB oracle
against the pre-registered views (read the staged file with Spark ⇔
read the original table with DuckDB). xlsx staging goes through our own
writer — which doubles as a round-trip test of the parser. The JDBC
sink round-trips through Spark's bundled Derby (a real database, real
batched inserts) and oracle-checks against the source view.
"""

from __future__ import annotations

import datetime
import glob
import os
import re
import zipfile

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators.global_order import _orders_morton_key
from xlsx_to_database_spark.registry import query
from xlsx_to_database_spark.sources import sinks as SK
from xlsx_to_database_spark.sources import xlsx_io
from xlsx_to_database_spark.sources.infer import (
    align_to_schema,
    sanitize_headers,
)
from xlsx_to_database_spark.sources.xlsx import register_xlsx_source

_STAGE_ROOT = "/tmp/spark_stage"


def _tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def _stage_xlsx_from_table(
    spark: SparkSession, sf_dir: str, name: str, split_col: str | None = None
) -> str:
    """Stage a (small) testdata table as an xlsx workbook — one sheet,
    or one sheet per distinct split_col value. xlsx is a small-data
    interchange format; staging collects, by design, only dimension-
    scale tables."""
    suffix = f"_{split_col}" if split_col else ""
    path = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_{name}{suffix}.xlsx")
    if os.path.exists(path):
        return path
    os.makedirs(_STAGE_ROOT, exist_ok=True)
    df = table(spark, sf_dir, name)
    header = df.columns
    if split_col:
        keys = sorted(r[0] for r in df.select(split_col).distinct().collect())
        sheets = {
            str(k): (header, [tuple(r) for r in df.filter(F.col(split_col) == k).collect()])
            for k in keys
        }
    else:
        sheets = {name: (header, [tuple(r) for r in df.collect()])}
    xlsx_io.write_workbook(path + ".tmp", sheets)
    os.replace(path + ".tmp", path)
    return path


@query(
    "xlsx_scan",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def xlsx_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a worksheet through the xlsx Python Data Source: header row
    → names, shared strings decoded, numeric cells type-inferred (ints
    promote to BIGINT — hence the oracle casts)."""
    register_xlsx_source(spark)
    path = _stage_xlsx_from_table(spark, sf_dir, "nation")
    return spark.read.format("xlsx").load(path)


@query(
    "xlsx_infer",
    """
    SELECT * FROM (VALUES
      (true,  CAST(1 AS BIGINT), CAST(1.5 AS DOUBLE),   'alpha', '1',    TIMESTAMP '2024-03-01 10:30:00'),
      (false, CAST(2 AS BIGINT), CAST(-0.25 AS DOUBLE), 'beta',  'two',  TIMESTAMP '1899-06-15 00:00:00'),
      (NULL,  CAST(3 AS BIGINT), CAST(2.0 AS DOUBLE),   NULL,    'true', TIMESTAMP '1900-02-28 12:00:00')
    ) AS t(flag, n, x, note, mixed, at)
    """,
)
def xlsx_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-inference across the promotion lattice: bool, long,
    int+float→double, string, int+str→string (degraded), date serials →
    timestamp (incl. a pre-1900 and a leap-quirk-era date)."""
    register_xlsx_source(spark)
    path = os.path.join(_STAGE_ROOT, "infer_fixture.xlsx")
    if not os.path.exists(path):
        os.makedirs(_STAGE_ROOT, exist_ok=True)
        rows = [
            (True, 1, 1.5, "alpha", 1, datetime.datetime(2024, 3, 1, 10, 30, 0)),
            (False, 2, -0.25, "beta", "two", datetime.datetime(1899, 6, 15)),
            (None, 3, 2, None, True, datetime.datetime(1900, 2, 28, 12, 0, 0)),
        ]
        xlsx_io.write_workbook(
            path + ".tmp", {"data": (["flag", "n", "x", "note", "mixed", "at"], rows)}
        )
        os.replace(path + ".tmp", path)
    return spark.read.format("xlsx").load(path)


@query(
    "xlsx_multisheet",
    """
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
           CAST(c_nationkey AS BIGINT) AS c_nationkey,
           c_acctbal, c_mktsegment
    FROM customer
    """,
)
def xlsx_multisheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One workbook, one sheet per market segment (sheet='*'): each
    sheet decodes as its own InputPartition in parallel, and the union
    must reconstruct the whole customer table."""
    register_xlsx_source(spark)
    path = _stage_xlsx_from_table(spark, sf_dir, "customer", split_col="c_mktsegment")
    return spark.read.format("xlsx").option("sheet", "*").load(path)


@query(
    "ident_sanitize",
    """
    SELECT * FROM (VALUES
      ('Order ID',        'order_id'),
      ('  Total $ (net)', 'total_net'),
      ('2024 forecast',   'c_2024_forecast'),
      ('weird//name',     'weird_name'),
      ('DUP',             'dup'),
      ('dup',             'dup_2'),
      ('',                'col')
    ) AS t(raw_header, identifier)
    """,
)
def ident_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header → SQL identifier sanitization (lowercase, punctuation →
    _, digit prefix guard, collision dedup)."""
    raw = ["Order ID", "  Total $ (net)", "2024 forecast", "weird//name", "DUP", "dup", ""]
    return spark.createDataFrame(
        list(zip(raw, sanitize_headers(raw))), "raw_header string, identifier string"
    )


@query(
    "parquet_scan",
    """
    SELECT l_orderkey, l_partkey, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_quantity < 10
    """,
)
def parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with projection + predicate pushdown (the explain
    plan shows PushedFilters on both predicates and a 4-column
    ReadSchema — asserted in tests/test_plans.py)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_quantity") < 10)
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_shipdate")


@query(
    "csv_scan",
    """
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
           CAST(c_nationkey AS BIGINT) AS c_nationkey,
           c_acctbal, c_mktsegment
    FROM customer
    """,
)
def csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited text with header + schema inference (staged from the
    customer table; numeric inference promotes to BIGINT/DOUBLE)."""
    out = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_customer_csv")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        table(spark, sf_dir, "customer").coalesce(1).write.mode("overwrite").option(
            "header", "true"
        ).csv(out)
    df = spark.read.csv(out, header=True, inferSchema=True)
    return df.select(
        F.col("c_custkey").cast("long"),
        "c_name",
        F.col("c_nationkey").cast("long"),
        F.col("c_acctbal").cast("double"),
        "c_mktsegment",
    )


@query(
    "json_scan",
    """
    SELECT event_id, event_type, value FROM events
    """,
)
def json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan (staged projection of events; timestamps are
    excluded — JSON round-trips them as strings, a format property,
    not an engine one)."""
    out = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_events_json")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        table(spark, sf_dir, "events").select("event_id", "event_type", "value").write.mode(
            "overwrite"
        ).json(out)
    return spark.read.json(out).select("event_id", "event_type", "value")


@query(
    "parquet_sink",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem WHERE l_quantity >= 45
    """,
)
def parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned columnar output (partitionBy l_returnflag → hive
    layout → partition pruning downstream), verified by reading back."""
    out = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_li_sink")
    src = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    SK.to_parquet(src, out, partition_by=["l_returnflag"])
    back = spark.read.parquet(out)
    return back.select(
        "l_orderkey", "l_linenumber", "l_quantity", F.col("l_returnflag").cast("string")
    )


@query(
    "jdbc_sink",
    """
    SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
           CAST(s_nationkey AS BIGINT) AS s_nationkey, s_acctbal
    FROM supplier
    """,
)
def jdbc_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's sink: CREATE TABLE + batched INSERTs over JDBC
    (Derby in-memory here; any JDBC URL in production), read back over
    JDBC and oracle-checked against the source. Executors write
    partition-parallel batched inserts; the driver never holds rows."""
    url = os.environ.get(
        "SPARK_GRAFT_JDBC_URL", f"jdbc:derby:memory:graft_{_tag(sf_dir)};create=true"
    )
    src = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long"),
        "s_name",
        F.col("s_nationkey").cast("long"),
        "s_acctbal",
    )
    SK.to_database(src, url, "supplier_sink", mode="truncate")
    back = SK.from_database(spark, url, "supplier_sink")
    return back.select(
        F.col("s_suppkey").cast("long"),
        "s_name",
        F.col("s_nationkey").cast("long"),
        F.col("s_acctbal").cast("double"),
    )


@query(
    "xlsx_sink",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def xlsx_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed xlsx write (DataSourceWriter: one part-*.xlsx per
    partition, _SUCCESS on commit) then read back — the full round trip
    through our own OOXML writer and reader, oracle-checked against the
    source table."""
    register_xlsx_source(spark)
    out = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_nation_xlsx_sink")
    src = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long"),
        "n_name",
        F.col("n_regionkey").cast("long"),
    )
    src.write.format("xlsx").option("sheet", "nation").mode("overwrite").save(out)
    back = None
    for p in sorted(glob.glob(os.path.join(out, "part-*.xlsx"))):
        df = spark.read.format("xlsx").option("sheet", "nation").load(p)
        back = df if back is None else back.unionByName(df)
    return back


@query(
    "orc_sink",
    """
    SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_name, p_brand,
           CAST(p_size AS BIGINT) AS p_size, p_retailprice
    FROM part
    """,
)
def orc_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round trip — Spark's other built-in columnar format, for
    pipelines standardized on Hive/ORC. Same distributed write shape as
    parquet (one file per task, _SUCCESS commit); predicate pushdown and
    column pruning work identically on read-back."""
    out = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_part_orc")
    src = table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long"),
        "p_name",
        "p_brand",
        F.col("p_size").cast("long"),
        F.col("p_retailprice").cast("double"),
    )
    src.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "csv_sink",
    """
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS BIGINT) AS l_linenumber,
           l_quantity, l_returnflag
    FROM lineitem WHERE l_quantity >= 45
    """,
)
def csv_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round trip — header + per-task part files, read back with an
    explicit schema (no inference job at scale). Doubles survive the
    text round trip exactly (shortest-repr float formatting)."""
    out = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_li_csv")
    src = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45).select(
        F.col("l_orderkey").cast("long"),
        F.col("l_linenumber").cast("long"),
        F.col("l_quantity").cast("double"),
        "l_returnflag",
    )
    src.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema(
        "l_orderkey long, l_linenumber long, l_quantity double, l_returnflag string"
    ).option("header", True).csv(out)


@query(
    "text_scan",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, text FROM documents
    """,
)
def text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text-lines ingestion (`spark.read.text` + declarative regex
    split) — the log-file path. Staged as tab-separated lines written
    distributed (one part per task); the parse is three codegen'd
    expressions, no UDF, so it pushes through whole-stage codegen at any
    scale."""
    out = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_docs_txt")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        docs = table(spark, sf_dir, "documents")
        docs.select(
            F.concat_ws("\t", F.col("doc_id"), F.col("lang"), F.col("text")).alias("value")
        ).write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    parts = F.split(F.col("value"), "\t", 3)
    return lines.select(
        parts.getItem(0).cast("long").alias("doc_id"),
        parts.getItem(1).alias("lang"),
        parts.getItem(2).alias("text"),
    )


@query(
    "csv_quoted_scan",
    """
    SELECT doc_id,
           'prefix,"quoted" ' || chr(10) || source AS tricky,
           source
    FROM documents
    """,
)
def csv_quoted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV quoting torture round-trip: values carrying embedded commas,
    double quotes, and NEWLINES are written with standard RFC-4180
    quoting and read back with `multiLine` — the option that makes the
    reader treat quoted newlines as data. (multiLine costs splittability:
    each file parses as a unit, so at scale you keep many moderate files
    rather than one giant one.) The oracle rebuilds the same tricky
    values directly from the source table — the scan must reproduce them
    byte-for-byte through the quote/escape/newline round trip."""
    out = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_docs_tricky_csv")
    tricky = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit('prefix,"quoted" '), F.lit("\n"), F.col("source")
        ).alias("tricky"),
        "source",
    )
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        tricky.coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    return spark.read.csv(out, header=True, multiLine=True).select(
        F.col("doc_id").cast("long"),
        "tricky",
        "source",
    )


@query(
    "obs_metrics",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS total_price,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted
    FROM lineitem
    """,
)
def obs_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`df.observe`: pipeline metrics collected DURING a query instead
    of by a second scan — on a 100 TB job, the difference between free
    monitoring and doubling the bill. The observation accumulates
    per-task and merges on the driver exactly like any aggregate; the
    oracle is the same aggregate as a standalone query, proving the
    observed numbers equal the recomputed ones."""
    li = table(spark, sf_dir, "lineitem")
    obs = Observation("lineitem_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")), 2).alias(
            "total_price"
        ),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).cast("long").alias(
            "n_discounted"
        ),
    )
    observed.write.format("noop").mode("overwrite").save()  # one real pass
    row = obs.get
    # Sum stays DECIMAL inside the observation (order-independent), but
    # the RESULT column is double on BOTH engines: a one-sided float
    # conversion hash-mismatched at sf0.1 ('…123.60' vs '…123.6'), and
    # round 9 proved the inverse too — DECIMAL result columns sit
    # outside the driver comparator's canonical domain. A 2dp decimal
    # casts to the identical IEEE double everywhere.
    return spark.createDataFrame(
        [(row["n_rows"], float(row["total_price"]), row["n_discounted"])],
        "n_rows long, total_price double, n_discounted long",
    )


@query(
    "parquet_pruned_read",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
           CAST(year(o_orderdate) AS INT) AS o_year
    FROM orders
    WHERE year(o_orderdate) = 1997
    """,
)
def parquet_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning end-to-end: orders written hive-partitioned by
    order year, then read back with a partition-column filter. The
    filter never touches row data — it prunes DIRECTORIES at planning
    time (`PartitionFilters` in the scan, plan-asserted in
    tests/test_plans.py), so a 100 TB table filtered to one year costs
    one year's IO. This is the static sibling of the DPP plan test
    (which proves the same pruning driven by a join at runtime)."""
    out = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_orders_by_year")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        src = table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        SK.to_parquet(src, out, partition_by=["o_year"])
    back = spark.read.parquet(out).filter(F.col("o_year") == 1997)
    return back.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.col("o_year").cast("int").alias("o_year"),
    )


@query(
    "parquet_schema_merge",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE year(o_orderdate) = 1995
    UNION ALL
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, o_orderpriority
    FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: batch 1 lands without the priority
    column, batch 2 adds it; `mergeSchema` unifies the footers at read
    time and null-pads the old files — the additive-column pattern every
    long-lived ingest dataset hits. Schema merge is a FOOTER-level
    operation (per-file metadata union, no data rewrite), so evolving a
    100 TB dataset costs nothing until rows are actually read; the
    alternative — rewriting history to the new schema — is the rewrite
    amplification SCALE.md warns about for MERGE."""
    out = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_orders_evolved")
    o = table(spark, sf_dir, "orders")
    b1 = os.path.join(out, "batch=1")
    b2 = os.path.join(out, "batch=2")
    if not os.path.exists(os.path.join(b2, "_SUCCESS")):
        o.filter(F.year("o_orderdate") == 1995).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(b1)
        o.filter(F.year("o_orderdate") == 1996).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).write.mode("overwrite").parquet(b2)
    back = spark.read.option("mergeSchema", "true").parquet(b1, b2)
    return back.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderpriority",
    )


def _stage_binary_from_nation(spark: SparkSession, sf_dir: str) -> str:
    """Stage one small binary file per nation row (dimension-scale by
    design, like the xlsx fixtures): nation_<key>.bin containing
    'name|regionkey' UTF-8 bytes."""
    out = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_nation_bin")
    if os.path.isdir(out) and os.listdir(out):
        return out
    os.makedirs(out, exist_ok=True)
    rows = table(spark, sf_dir, "nation").collect()
    for r in rows:
        payload = f"{r['n_name']}|{r['n_regionkey']}".encode("utf-8")
        tmp = os.path.join(out, f".nation_{r['n_nationkey']}.tmp")
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, os.path.join(out, f"nation_{r['n_nationkey']}.bin"))
    return out


@query(
    "binary_scan",
    """
    SELECT 'nation_' || n_nationkey || '.bin' AS fname,
           CAST(strlen(n_name || '|' || n_regionkey) AS BIGINT) AS n_bytes,
           n_name || '|' || n_regionkey AS payload
    FROM nation
    """,
)
def binary_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingestion via Spark's built-in `binaryFile` source —
    the front door for image/audio/video corpora: each file becomes one
    row of (path, modificationTime, length, content BINARY) with NO
    decode on read, so bytes flow to downstream mapInPandas decoders
    (see media_* ops) without a Python round trip at scan time. Files
    here are staged from the region table so the oracle can re-derive
    every fact relationally; payload decodes back for the value check.
    At 100 TB the source lists files in parallel and assigns whole files
    to partitions — pair it with `spark.sql.files.maxPartitionBytes`
    sizing and consolidated object-store listings; tiny-file corpora
    should be compacted into parquet BINARY columns first (the
    multimodal_cols layout) to avoid per-file open overhead."""
    path = _stage_binary_from_nation(spark, sf_dir)
    df = spark.read.format("binaryFile").load(path)
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.col("content").cast("string").alias("payload"),
    )


@query(
    "parquet_zorder_sink",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    WHERE o_custkey % 4 = 1
      AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
    """,
)
def parquet_zorder_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered write — the multi-dimensional sibling of
    `parquet_clustered_sink`: 1-D range clustering gives perfect
    min/max stats on ONE column and useless ones on every other, but
    scans that filter on (customer AND date) need locality in BOTH.
    Interleaving the two keys' bits into a Morton code and
    range-partitioning + sorting on it bounds every file to a small
    rectangle of (custkey, date) space, so footer-only pruning works
    for predicates on either or both dimensions — what table formats
    ship as OPTIMIZE ZORDER, expressed in three plain Spark primitives
    (codegen interleave, repartitionByRange, sortWithinPartitions).
    Per-file two-dimensional span narrowing is pyarrow-asserted in
    tests; this query proves content integrity: a two-predicate
    aggregate on the READ-BACK files must hash-match the source-side
    oracle. The predicate uses a custkey MODULO and an in-range date
    year so its selectivity is ~1/4 x ~1/6 at EVERY SF — a fixed
    absolute range would silently select 0 rows on this testdata's
    1995–2001 date domain and make the content check vacuous."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    # Equalize bit budgets: raw columns have mismatched magnitudes
    # (custkey ~ 1e6+, date-days ~ 2.4k), and Morton codes only give 2-D
    # locality when both dims contribute comparable high bits — otherwise
    # the wider dim dominates the sort and the narrower one degenerates
    # to 1-D clustering. Quantize each dim to 8 bits against its actual
    # domain. r13: the (min, max) pair per dim comes from the parquet
    # FOOTER statistics (pyarrow, O(row-groups) driver metadata — the
    # same stats the clustered sinks' pruning tests rely on), replacing
    # a full-scan Spark aggregate job per call; datediff is monotone in
    # the date, so day bounds are exactly the bounds of the date stats.
    # The z-value affects LAYOUT only — correctness never depends on
    # it, and a footer without stats falls back to the aggregate.
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))

    def _footer_bounds():
        md = pq.ParquetFile(
            os.path.join(sf_dir, "orders.parquet")
        ).metadata
        mins: dict = {}
        maxs: dict = {}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                if c.path_in_schema in ("o_custkey", "o_orderdate"):
                    s = c.statistics
                    if s is None or not s.has_min_max:
                        raise ValueError("footer stats missing")
                    k = c.path_in_schema
                    mins[k] = s.min if k not in mins else min(mins[k], s.min)
                    maxs[k] = s.max if k not in maxs else max(maxs[k], s.max)
        epoch = datetime.date(1992, 1, 1)

        def _as_date(m):
            # pyarrow stats are datetime.datetime for timestamp-typed
            # columns but datetime.date for date32-typed ones (r13
            # ADVICE): handle both instead of assuming .date() exists.
            return m.date() if isinstance(m, datetime.datetime) else m

        return (
            mins["o_custkey"],
            maxs["o_custkey"],
            (_as_date(mins["o_orderdate"]) - epoch).days,
            (_as_date(maxs["o_orderdate"]) - epoch).days,
        )

    try:
        lo_c, hi_c, lo_d, hi_d = _footer_bounds()
    except (ValueError, OSError, KeyError, AttributeError, TypeError):
        # Narrowed from a blanket except (r13 ADVICE): stats-missing /
        # unreadable-footer / unexpected-stat-type fall back to the
        # full-scan aggregate; anything else should surface.
        lo_c, hi_c, lo_d, hi_d = o.agg(
            F.min("o_custkey"), F.max("o_custkey"), F.min(day), F.max(day)
        ).collect()[0]

    z = _orders_morton_key(lo_c, hi_c, lo_d, hi_d)
    tag = os.path.basename(os.path.normpath(sf_dir))
    dst = f"/tmp/spark_stage/{tag}_orders_zorder"
    (
        o.withColumn("__z", z)
        .repartitionByRange(16, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(dst)
    )
    back = spark.read.parquet(dst).filter(
        (F.pmod(F.col("o_custkey"), F.lit(4)) == 1)
        & (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total"),
    )


@query(
    "csv_malformed_scan",
    """
    SELECT count(*) AS n_good, CAST(3 AS BIGINT) AS n_bad,
           CAST(sum(o_orderkey) + sum(o_custkey) AS BIGINT) AS key_checksum,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS revenue
    FROM orders
    """,
)
def csv_malformed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row policy on CSV ingest — the ETL surface every lake
    hits: a staged orders extract plus a planted 3-line garbage file in
    the same directory (one type-corrupt field per line, a different
    column each). DROPMALFORMED must drop exactly those 3 lines and
    nothing else; the good-row count, key checksum, and revenue must
    equal the source table's. n_bad is derived as total_lines − n_good
    from a schema-free text count, NOT from the corrupt-record column —
    so no cache() crutch and no corrupt-column-only-filter limitation.
    The aggregate references every NUMERIC column on purpose: Spark's
    CSV column pruning only type-checks projected columns, so a query
    touching fewer columns would legitimately keep rows whose breakage
    it never parsed (string fields cannot type-fail, so each garbage
    line corrupts one of the referenced numeric columns)."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    src_size = os.path.getsize(os.path.join(sf_dir, "orders.parquet"))
    dst = f"/tmp/spark_stage/{tag}_orders_csv_{src_size}"
    garbage = os.path.join(dst, "zz_garbage.csv")
    if not os.path.exists(garbage):
        (
            table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
            .write.mode("overwrite")
            .csv(dst)
        )
        with open(garbage, "w") as fh:
            fh.write("x,1,1-URGENT,1.5\n2,y,5-LOW,2.5\n3,3,3-MEDIUM,notadouble\n")
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderpriority string, "
        "o_totalprice double"
    )
    good = (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .csv(dst)
        .agg(
            F.count(F.lit(1)).alias("n_good"),
            (F.sum("o_orderkey") + F.sum("o_custkey")).alias("key_checksum"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("revenue"),
        )
    )
    total = spark.read.text(dst).agg(F.count(F.lit(1)).alias("n_total"))
    return (
        good.crossJoin(F.broadcast(total))
        .select(
            "n_good",
            (F.col("n_total") - F.col("n_good")).alias("n_bad"),
            "key_checksum",
            "revenue",
        )
    )


@query(
    "xlsx_schema_map",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey,
           CAST(NULL AS VARCHAR) AS n_comment
    FROM nation
    """,
)
def xlsx_schema_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spreadsheet→table column mapping — the reference capability
    class's core load semantics: a staged workbook whose headers are
    human-messy ('Nation Key', 'NAME ', 'region-key') plus an extra
    audit column, aligned onto the warehouse schema by normalized-name
    matching (table prefix optional in the source), typed NULLs for
    target columns the sheet lacks ('n_comment'), extra source columns
    dropped, types cast. Resolution happens at plan time from schema
    metadata (sources/infer.py::align_to_schema); the data path is one
    shuffle-free projection."""
    register_xlsx_source(spark)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/spark_stage/{tag}_nation_messy.xlsx"
    if not os.path.exists(path):
        os.makedirs("/tmp/spark_stage", exist_ok=True)
        rows = [
            tuple(r) + ("etl",)
            for r in table(spark, sf_dir, "nation")
            .orderBy("n_nationkey")
            .collect()
        ]
        xlsx_io.write_workbook(
            path + ".tmp",
            {"sheet1": (["Nation Key", "NAME ", "region-key", "Loaded By"], rows)},
        )
        os.replace(path + ".tmp", path)
    target = StructType.fromDDL(
        "n_nationkey bigint, n_name string, n_regionkey bigint, n_comment string"
    )
    return align_to_schema(
        spark.read.format("xlsx").load(path), target, prefix="n_"
    )


@query(
    "xlsx_merged_scan",
    """
    SELECT r_name AS region_name, n_name AS nation_name
    FROM region JOIN nation ON r_regionkey = n_regionkey
    """,
)
def xlsx_merged_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-cell report layout → proper relation: a staged workbook
    where each region's name is ONE merged cell spanning its nations'
    rows (the ubiquitous human-report shape), read back with
    ``option("mergedCells", "fill")`` so the anchor value propagates
    down the range and every row carries its region. Without the fill
    the non-anchor cells are None — exactly what naive readers produce
    and exactly why spreadsheet ETL needs this unpivot. The merge
    geometry is parsed from ``<mergeCells>`` in one extra streaming
    pass (xlsx_io.py::merged_ranges); row-major order means the anchor
    is always seen before the cells it fills."""
    register_xlsx_source(spark)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/spark_stage/{tag}_region_report.xlsx"
    if not os.path.exists(path):
        os.makedirs("/tmp/spark_stage", exist_ok=True)
        nat = table(spark, sf_dir, "nation")
        reg = table(spark, sf_dir, "region")
        joined = (
            nat.join(reg, nat.n_regionkey == reg.r_regionkey)
            .select("r_name", "n_name", "n_regionkey", "n_nationkey")
            .orderBy("n_regionkey", "n_nationkey")
            .collect()
        )
        rows, merges, rix = [], [], 2  # data starts at sheet row 2
        prev = None
        for r in joined:
            if r.r_name != prev:
                if prev is not None and rix - 1 > merges[-1][0]:
                    merges[-1] = (merges[-1][0], rix - 1)
                merges.append((rix, rix))
                rows.append((r.r_name, r.n_name))
                prev = r.r_name
            else:
                rows.append((None, r.n_name))
            rix += 1
        if merges and rix - 1 > merges[-1][0]:
            merges[-1] = (merges[-1][0], rix - 1)
        xlsx_io.write_workbook(
            path + ".tmp", {"report": (["region_name", "nation_name"], rows)}
        )
        with zipfile.ZipFile(path + ".tmp") as zf:
            members = {n: zf.read(n) for n in zf.namelist()}
        mc = "".join(f'<mergeCell ref="A{a}:A{b}"/>' for a, b in merges if b > a)
        sheet = members["xl/worksheets/sheet1.xml"].decode()
        members["xl/worksheets/sheet1.xml"] = re.sub(
            "</worksheet>",
            f'<mergeCells count="{len(merges)}">{mc}</mergeCells></worksheet>',
            sheet,
        ).encode()
        with zipfile.ZipFile(path + ".tmp2", "w") as zf:
            for n, data in members.items():
                zf.writestr(n, data)
        os.replace(path + ".tmp2", path)
        os.remove(path + ".tmp")
    return spark.read.format("xlsx").option("mergedCells", "fill").load(path)


@query(
    "jdbc_partitioned_scan",
    """
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey <= 5000
    """,
)
def jdbc_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned parallel JDBC ingest — the scan-side sibling of
    `jdbc_sink`, and the read shape that matters at scale: one
    connection per partition, each issuing a disjoint
    ``o_orderkey BETWEEN lo AND hi`` predicate, so a 1000-executor
    cluster drains a warehouse table without a single-connection
    bottleneck (partitionColumn / lowerBound / upperBound /
    numPartitions — the standard Spark JDBC parallelism contract).
    Derby in-memory stands in for the warehouse; the oracle is the
    source rows the table was loaded from."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    url = os.environ.get(
        "SPARK_GRAFT_JDBC_URL", f"jdbc:derby:memory:graft_scan_{tag};create=true"
    )
    src = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 5000)
        .select(
            F.col("o_orderkey").cast("long"),
            F.col("o_custkey").cast("long"),
            "o_orderpriority",
            "o_totalprice",
        )
    )
    SK.to_database(src, url, "orders_part", mode="truncate")
    back = SK.from_database(
        spark,
        url,
        "orders_part",
        partitionColumn="o_orderkey",
        lowerBound="1",
        upperBound="5000",
        numPartitions="8",
    )
    return back.select(
        F.col("o_orderkey").cast("long"),
        F.col("o_custkey").cast("long"),
        "o_orderpriority",
        F.col("o_totalprice").cast("double"),
    )


@query(
    "parquet_bloom_sink",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS qty_sum
    FROM lineitem WHERE l_orderkey % 1000 = 7
    """,
)
def parquet_bloom_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet write with a COLUMN BLOOM FILTER on the join/filter key —
    the lake-format feature that turns selective point predicates into
    row-group skips even where min/max stats are useless (high-cardinality
    unsorted keys: a key's presence is scattered uniformly, so every
    row group's [min,max] covers it, but the bloom filter answers
    'definitely absent' per group). Written via the standard parquet
    writer options (parquet.bloom.filter.enabled#col) — no table format
    needed; the footer carries the filters (pyarrow-asserted in tests).
    The oracle checks content integrity through the write+read cycle on
    a selective predicate of the kind blooms serve."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    dst = f"/tmp/spark_stage/{tag}_lineitem_bloom"
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    (
        li.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_orderkey", "200000")
        # parquet-mr only emits a bloom when the column is NOT fully
        # dictionary-encoded (a complete dictionary already answers
        # membership exactly). Test-scale keys all fit the dictionary,
        # so disable it for this column to exercise the regime that
        # holds at real scale, where high-cardinality keys overflow the
        # dictionary and the bloom is what saves the row-group reads.
        .option("parquet.enable.dictionary#l_orderkey", "false")
        .parquet(dst)
    )
    back = spark.read.parquet(dst).filter(F.pmod("l_orderkey", F.lit(1000)) == 7)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_orderkey").cast("long").alias("key_sum"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2
        ).alias("qty_sum"),
    )


@query(
    "xlsx_named_range",
    """
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
           round(c_acctbal, 2) AS c_acctbal
    FROM customer WHERE c_custkey <= 300
    """,
)
def xlsx_named_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a workbook-level DEFINED NAME (named range) instead of a
    whole sheet — the xlsx-class behavior that makes real spreadsheets
    readable: authors surround the data rectangle with titles, blank
    rows, and footers, and publish the rectangle as a name. The staged
    sheet has a title row, a metadata noise row, and a trailing footer;
    the name covers exactly header+data, so the scan must return the
    data rows and NOTHING else. `.option("range", ...)` resolves the
    name from `<definedNames>` (quoted sheet names, $-absolute refs),
    slices rows by TRUE sheet row numbers (sparse-row safe) and columns
    to the rectangle, and yields one partition (a named range is one
    rectangle). Round-trips through our own writer's definedNames
    emission."""
    register_xlsx_source(spark)
    path = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_named_range.xlsx")
    if not os.path.exists(path):
        os.makedirs(_STAGE_ROOT, exist_ok=True)
        data = [
            (r.c_custkey, r.c_name, r.c_acctbal)
            for r in table(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") <= 300)
            .select("c_custkey", "c_name", "c_acctbal")
            .orderBy("c_custkey")
            .collect()
        ]
        rows = (
            [("generated by export job #42", None, None)]
            + [("c_custkey", "c_name", "c_acctbal")]
            + data
            + [("end of export", None, None)]
        )
        # sheet rows: 1=title(header slot), 2=noise, 3=header, 4..=data,
        # last=footer; the name covers rows 3..3+len(data) only.
        xlsx_io.write_workbook(
            path + ".tmp",
            {"export": (["Quarterly customer export", "", ""], rows)},
            defined_names={
                "customer_table": f"export!$A$3:$C${3 + len(data)}"
            },
        )
        os.replace(path + ".tmp", path)
    df = spark.read.format("xlsx").option("range", "customer_table").load(path)
    return df.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )


@query(
    "json_nested_scan",
    """
    SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           round(o_totalprice, 2) AS o_totalprice
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey % 16 = 1
    GROUP BY o.o_orderkey, o_totalprice
    """,
)
def json_nested_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON ingestion: order documents with an embedded `items`
    array of structs (the ubiquitous API-export shape), staged from the
    testdata, then read back through Spark's JSON source — exercising
    NESTED schema inference (array<struct> discovered, numeric widths
    unified across lines) and re-normalization via explode. The oracle
    reconstructs the same aggregates relationally, so the whole
    nest→infer→explode→re-aggregate loop must be lossless.

    Scale shape: JSON lines split by newline, so the read parallelizes
    per file-split like CSV; explode is map-only; the one shuffle is
    the per-order re-aggregate. (At 100 TB you'd land this as parquet
    once and never re-parse — `etl_dead_letter` covers the malformed
    path; this op covers the happy nested path.)"""
    root = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_orders_nested_json")
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        os.makedirs(_STAGE_ROOT, exist_ok=True)
        o = table(spark, sf_dir, "orders").filter(
            F.col("o_orderkey") % 16 == 1
        )
        li = table(spark, sf_dir, "lineitem")
        nested = (
            o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey", "o_totalprice")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("l_linenumber").alias("ln"),
                            F.col("l_quantity").alias("qty"),
                            F.col("l_extendedprice").alias("price"),
                        )
                    )
                ).alias("items")
            )
        )
        nested.coalesce(2).write.mode("overwrite").json(root)
    doc = spark.read.json(root)
    return (
        doc.select(
            "o_orderkey", "o_totalprice", F.explode("items").alias("it")
        )
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("it.qty").cast("long")).alias("sum_qty"),
        )
        .select(
            "o_orderkey",
            "n_items",
            "sum_qty",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


@query(
    "csv_gzip_scan",
    """
    SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_name,
           CAST(p_size AS BIGINT) AS p_size,
           round(p_retailprice, 2) AS p_retailprice
    FROM part
    """,
)
def csv_gzip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-CSV ingestion: the part table staged as gzip CSV and
    read back with header + schema inference. gzip is NOT splittable —
    each .csv.gz decompresses in one task, which is precisely why the
    stage writes MULTIPLE compressed files (4 here): at 100 TB the
    parallel grain of a gzip landing zone is the file count, so the
    op's layout choice is the scale lesson, not an accident. Inference
    must land BIGINT keys/sizes and DOUBLE prices from text; the
    round-trip hash-matches the parquet-born oracle."""
    root = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_part_gzip_csv")
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        os.makedirs(_STAGE_ROOT, exist_ok=True)
        (
            table(spark, sf_dir, "part")
            .select("p_partkey", "p_name", "p_size", "p_retailprice")
            .repartition(4)
            .write.mode("overwrite")
            .option("header", "true")
            .option("compression", "gzip")
            .csv(root)
        )
    df = (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .csv(root)
    )
    return df.select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        "p_name",
        F.col("p_size").cast("long").alias("p_size"),
        F.round("p_retailprice", 2).alias("p_retailprice"),
    )


@query(
    "jdbc_pushdown_scan",
    """
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           o_orderpriority, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_orderkey <= 5000 AND o_totalprice > 150000
      AND o_orderpriority = '1-URGENT'
    """,
)
def jdbc_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC predicate pushdown: the filters must travel INTO the
    database as SQL (`PushedFilters` on the JDBC scan — pinned in
    tests/test_plans.py), so the database sends back only matching rows
    instead of streaming the whole table through the connector — the
    difference between a 100 TB federated query that works and one that
    copies the source. Stages a Derby table once (reusing the
    jdbc_partitioned_scan staging), then reads it back with a
    3-predicate conjunction the connector compiles to WHERE."""
    tag = _tag(sf_dir)
    url = os.environ.get(
        "SPARK_GRAFT_JDBC_URL",
        f"jdbc:derby:memory:graft_push_{tag};create=true",
    )
    src = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 5000)
        .select(
            F.col("o_orderkey").cast("long"),
            "o_orderpriority",
            "o_totalprice",
        )
    )
    # Derby maps StringType to CLOB by default, and CLOB comparisons
    # cannot serve a pushed-down predicate — force a comparable VARCHAR.
    SK.to_database(
        src, url, "orders_push", mode="truncate",
        createTableColumnTypes="o_orderpriority VARCHAR(20)",
    )
    back = SK.from_database(spark, url, "orders_push")
    return back.filter(
        (F.col("o_totalprice") > 150000)
        & (F.col("o_orderpriority") == "1-URGENT")
    ).select(
        F.col("o_orderkey").cast("long"),
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


@query(
    "csv_preamble_scan",
    """
    SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
           CAST(s_nationkey AS BIGINT) AS s_nationkey,
           round(s_acctbal, 2) AS s_acctbal
    FROM supplier
    """,
)
def csv_preamble_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preamble-tolerant CSV ingestion: real exports open with banner
    lines ('Report generated...', blank lines, a tool signature) BEFORE
    the header, which breaks naive header=true readers. The scan reads
    the file as text, drops comment/blank/header lines (the preamble
    grammar of this export family), then parses the remainder with
    from_csv against an explicit schema — all map-side (text source →
    filter → from_csv), no driver preprocessing, so a directory of such
    files at 100 TB parallelizes per file-split like any text scan.
    Hash-matches the clean relational oracle, proving the preamble
    never leaks a row."""
    root = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_supplier_preamble.csv")
    if not os.path.exists(root):
        os.makedirs(_STAGE_ROOT, exist_ok=True)
        rows = (
            table(spark, sf_dir, "supplier")
            .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
            .collect()
        )
        with open(root + ".tmp", "w") as fh:
            fh.write("# Supplier extract -- generated by legacy tool v2.3\n")
            fh.write("# contact: ops@example.invalid\n")
            fh.write("\n")
            fh.write("s_suppkey,s_name,s_nationkey,s_acctbal\n")
            for r in rows:
                fh.write(
                    f"{r.s_suppkey},{r.s_name},{r.s_nationkey},"
                    f"{r.s_acctbal!r}\n"
                )
        os.replace(root + ".tmp", root)
    header = "s_suppkey,s_name,s_nationkey,s_acctbal"
    txt = spark.read.text(root)
    body = txt.filter(
        (F.col("value") != header)
        & ~F.col("value").startswith("#")
        & (F.length("value") > 0)
    )
    parsed = body.select(
        F.from_csv(
            F.col("value"),
            "s_suppkey long, s_name string, s_nationkey long, s_acctbal double",
        ).alias("r")
    )
    return parsed.select(
        F.col("r.s_suppkey").alias("s_suppkey"),
        F.col("r.s_name").alias("s_name"),
        F.col("r.s_nationkey").alias("s_nationkey"),
        F.round("r.s_acctbal", 2).alias("s_acctbal"),
    )


@query(
    "csv_latin1_scan",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           n_name || ' à résumé über' AS label,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def csv_latin1_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy-encoding CSV ingestion: an ISO-8859-1 (Latin-1) export
    with non-ASCII labels, read back through the CSV source's
    `encoding` option — the unglamorous reality of enterprise landing
    zones, and a silent-corruption source if the default UTF-8 path
    mojibakes every accented byte. The staged file is WRITTEN in
    Latin-1 (é→0xE9, ü→0xFC single bytes — invalid as UTF-8), so a
    UTF-8 read would produce replacement garbage; the oracle builds
    the same labels from clean parquet, so the hash match proves
    byte-exact decode. Map-side like any text scan; a single-byte
    codepage is per-split decodable, so parallelism is unaffected."""
    path = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_nation_cp1252.csv")
    if not os.path.exists(path):
        os.makedirs(_STAGE_ROOT, exist_ok=True)
        rows = (
            table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey")
            .collect()
        )
        with open(path + ".tmp", "w", encoding="iso-8859-1") as fh:
            fh.write("n_nationkey,label,n_regionkey\n")
            for r in rows:
                fh.write(
                    f"{r.n_nationkey},{r.n_name} à résumé "
                    f"über,{r.n_regionkey}\n"
                )
        os.replace(path + ".tmp", path)
    return (
        spark.read.option("header", "true")
        .option("encoding", "iso-8859-1")
        .schema("n_nationkey long, label string, n_regionkey long")
        .csv(path)
    )


@query(
    "csv_evolving_union",
    """
    SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
           round(s_acctbal, 2) AS s_acctbal,
           CAST(NULL AS BIGINT) AS s_nationkey, 'v1' AS schema_rev
    FROM supplier WHERE s_suppkey % 2 = 0
    UNION ALL
    SELECT CAST(s_suppkey AS BIGINT), s_name, NULL,
           CAST(s_nationkey AS BIGINT), 'v2'
    FROM supplier WHERE s_suppkey % 2 = 1
    """,
)
def csv_evolving_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union across CSV generations: the v1 export
    carries (key, name, acctbal), the v2 export reordered columns and
    swapped acctbal for nationkey — the landing-zone reality after any
    upstream release. Position-based union would silently misalign
    columns; `unionByName(allowMissingColumns=True)` aligns BY NAME
    and nulls the gaps, which is the only union that survives schema
    drift. Each generation parses with its own explicit schema
    (header-validated), map-side; the oracle reconstructs the aligned
    union with NULL placeholders."""
    root = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_supplier_evolving")
    if not os.path.exists(os.path.join(root, "v2.csv")):
        os.makedirs(root, exist_ok=True)
        rows = (
            table(spark, sf_dir, "supplier")
            .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
            .collect()
        )
        with open(os.path.join(root, "v1.csv.tmp"), "w") as fh:
            fh.write("s_suppkey,s_name,s_acctbal\n")
            for r in rows:
                if r.s_suppkey % 2 == 0:
                    fh.write(f"{r.s_suppkey},{r.s_name},{r.s_acctbal!r}\n")
        with open(os.path.join(root, "v2.csv.tmp"), "w") as fh:
            fh.write("s_nationkey,s_suppkey,s_name\n")
            for r in rows:
                if r.s_suppkey % 2 == 1:
                    fh.write(f"{r.s_nationkey},{r.s_suppkey},{r.s_name}\n")
        os.replace(os.path.join(root, "v1.csv.tmp"),
                   os.path.join(root, "v1.csv"))
        os.replace(os.path.join(root, "v2.csv.tmp"),
                   os.path.join(root, "v2.csv"))
    v1 = (
        spark.read.option("header", "true")
        .schema("s_suppkey long, s_name string, s_acctbal double")
        .csv(os.path.join(root, "v1.csv"))
        .withColumn("schema_rev", F.lit("v1"))
    )
    v2 = (
        spark.read.option("header", "true")
        .schema("s_nationkey long, s_suppkey long, s_name string")
        .csv(os.path.join(root, "v2.csv"))
        .withColumn("schema_rev", F.lit("v2"))
    )
    return v1.unionByName(v2, allowMissingColumns=True).select(
        "s_suppkey",
        "s_name",
        F.round("s_acctbal", 2).alias("s_acctbal"),
        "s_nationkey",
        "schema_rev",
    )


def _stage_formula_workbook(path: str) -> None:
    """Assemble an xlsx whose ``total``/``label`` columns are FORMULA
    cells — plain (``<f>B2*C2</f>``), shared (one master carries the
    formula text, followers carry only ``si``), a string-result formula
    (``t="str"``), and an error-result formula (``t="e"``,
    ``#DIV/0!``). Every formula cell carries its cached ``<v>`` exactly
    as Excel saves it; ``write_workbook`` never emits formulas, so the
    sheet XML is assembled here and the boilerplate parts are reused."""
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData>'
        '<row r="1">'
        '<c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c>'
        '<c r="E1" t="s"><v>4</v></c></row>'
        # plain formula + string-result formula
        '<row r="2"><c r="A2" t="s"><v>5</v></c><c r="B2"><v>2</v></c>'
        '<c r="C2"><v>3.5</v></c>'
        '<c r="D2"><f>B2*C2</f><v>7</v></c>'
        '<c r="E2" t="str"><f>CONCATENATE("x-",D2)</f><v>x-7</v></c></row>'
        # shared formula master (si=0) ...
        '<row r="3"><c r="A3" t="s"><v>6</v></c><c r="B3"><v>4</v></c>'
        '<c r="C3"><v>2.25</v></c>'
        '<c r="D3"><f t="shared" ref="D3:D4" si="0">B3*C3</f><v>9</v></c>'
        '<c r="E3" t="s"><v>7</v></c></row>'
        # ... and its follower: no formula text, cached value only
        '<row r="4"><c r="A4" t="s"><v>8</v></c><c r="B4"><v>5</v></c>'
        '<c r="C4"><v>3</v></c>'
        '<c r="D4"><f t="shared" si="0"/><v>15</v></c>'
        '<c r="E4" t="s"><v>9</v></c></row>'
        # error-result formula: cached value is the error literal
        '<row r="5"><c r="A5" t="s"><v>10</v></c><c r="B5"><v>1</v></c>'
        '<c r="C5"><v>0</v></c>'
        '<c r="D5" t="e"><f>B5/C5</f><v>#DIV/0!</v></c>'
        '<c r="E5" t="s"><v>11</v></c></row>'
        "</sheetData></worksheet>"
    )
    strings = ["item", "qty", "price", "total", "label",
               "a", "b", "plain1", "c", "plain2", "d", "plain3"]
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
        f'2006/main" count="{len(strings)}" uniqueCount="{len(strings)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in strings)
        + "</sst>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/'
        '2006/relationships">'
        '<sheets><sheet name="calc" sheetId="1" r:id="rId1"/></sheets>'
        "</workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/'
        'package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/sharedStrings" '
        'Target="sharedStrings.xml"/>'
        '<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/styles" Target="styles.xml"/>'
        "</Relationships>"
    )
    overrides = (
        '<Override PartName="/xl/worksheets/sheet1.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'spreadsheetml.worksheet+xml"/>'
    )
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml",
            xlsx_io._CONTENT_TYPES.format(sheet_overrides=overrides),
        )
        zf.writestr("_rels/.rels", xlsx_io._ROOT_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/styles.xml", xlsx_io._STYLES)
        zf.writestr("xl/sharedStrings.xml", sst)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    os.replace(tmp, path)


@query(
    "xlsx_formula_scan",
    """
    SELECT * FROM (VALUES
      ('a', CAST(2 AS BIGINT), CAST(3.5 AS DOUBLE),
       CAST(7 AS BIGINT), 'x-7'),
      ('b', CAST(4 AS BIGINT), CAST(2.25 AS DOUBLE),
       CAST(9 AS BIGINT), 'plain1'),
      ('c', CAST(5 AS BIGINT), CAST(3 AS DOUBLE),
       CAST(15 AS BIGINT), 'plain2'),
      ('d', CAST(1 AS BIGINT), CAST(0 AS DOUBLE),
       CAST(NULL AS BIGINT), 'plain3')
    ) AS t(item, qty, price, total, label)
    """,
)
def xlsx_formula_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula-cell ingestion through the xlsx source: spreadsheets in
    the wild compute half their columns, and an ETL reader that skips
    ``<f>`` cells silently drops them. The reader returns each
    formula's CACHED ``<v>`` (the value Excel persisted at last
    recalculation — exactly what every spreadsheet ETL ships),
    covering the four shapes a real workbook mixes: a plain formula, a
    shared-formula master + follower (followers carry no formula text,
    only ``si`` and the cached value), a string-result formula
    (``t="str"``), and an error-result formula (``t="e"`` →
    typed NULL, never the ``#DIV/0!`` literal leaking into a numeric
    column)."""
    register_xlsx_source(spark)
    path = os.path.join(_STAGE_ROOT, "formula_fixture.xlsx")
    if not os.path.exists(path):
        os.makedirs(_STAGE_ROOT, exist_ok=True)
        _stage_formula_workbook(path)
    return spark.read.format("xlsx").load(path)


def _footer_stats(path: str, cols: tuple) -> list:
    """(row_group, column, rows, min, max) per row group × requested
    integer column, from the parquet footer only — zero data pages
    read. Shared by `parquet_stats_scan` and its multi-row-group unit
    test."""
    md = pq.ParquetFile(path).metadata
    rows = []
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for ci in range(rg.num_columns):
            c = rg.column(ci)
            if c.path_in_schema in cols:
                rows.append(
                    (rg_i, c.path_in_schema, rg.num_rows,
                     int(c.statistics.min), int(c.statistics.max))
                )
    return rows


@query(
    "parquet_stats_scan",
    # The testdata files are single-row-group at every oracle SF, so the
    # footer statistics MUST equal the column aggregates — the oracle
    # asserts exactly that (footer bytes vs data), staying sf-adaptive.
    """
    SELECT CAST(0 AS BIGINT) AS row_group, col,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
           min_val, max_val
    FROM (
      SELECT 'l_orderkey' AS col, CAST(min(l_orderkey) AS BIGINT) AS min_val,
             CAST(max(l_orderkey) AS BIGINT) AS max_val FROM lineitem
      UNION ALL
      SELECT 'l_partkey', CAST(min(l_partkey) AS BIGINT),
             CAST(max(l_partkey) AS BIGINT) FROM lineitem
      UNION ALL
      SELECT 'l_suppkey', CAST(min(l_suppkey) AS BIGINT),
             CAST(max(l_suppkey) AS BIGINT) FROM lineitem
    )
    """,
)
def parquet_stats_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer statistics as a queryable table — per row group
    and column: row count and min/max. This is the metadata that powers
    row-group pruning (`parquet_pruned_read` consumes it implicitly;
    this op EXPOSES it — the "which files could contain key K" question
    every compaction/clustering decision starts from, answered without
    touching a single data page).

    Footers are read driver-side via pyarrow (pure metadata: one footer
    per file, O(row_groups × columns) — at 100 TB this is the planner's
    own listing cost, parallelizable with a mapInPandas over file paths
    when the file count itself is large) and returned as a local
    DataFrame. The oracle reads the SAME footers through DuckDB's
    parquet_metadata() — two independent parquet implementations
    agreeing on the stats bytes."""
    rows = _footer_stats(
        os.path.join(sf_dir, "lineitem.parquet"),
        ("l_orderkey", "l_partkey", "l_suppkey"),
    )
    return spark.createDataFrame(
        rows, "row_group long, col string, n_rows long, "
              "min_val long, max_val long"
    )


@query(
    "csv_bom_scan",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def csv_bom_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8-BOM CSV ingestion: Excel and Windows tooling prepend
    EF BB BF to "UTF-8" exports; a reader that treats those bytes as
    data corrupts the FIRST HEADER NAME (the infamous '\\ufeffid'
    column that breaks every downstream select). The staged file
    carries a real BOM; the scan must yield clean column names and an
    uncorrupted first data row — the oracle (clean parquet) hash-match
    proves both. Spark's CSV reader strips the BOM in both the
    header-inference and explicit-schema paths; this op pins that
    behavior so a reader regression is caught here, not in
    production."""
    path = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_nation_bom.csv")
    if not os.path.exists(path):
        os.makedirs(_STAGE_ROOT, exist_ok=True)
        rows = (
            table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey")
            .collect()
        )
        with open(path + ".tmp", "wb") as fh:
            fh.write(b"\xef\xbb\xbf")  # UTF-8 BOM
            fh.write(b"n_nationkey,n_name,n_regionkey\n")
            for r in rows:
                fh.write(
                    f"{r.n_nationkey},{r.n_name},{r.n_regionkey}\n"
                    .encode("utf-8")
                )
        os.replace(path + ".tmp", path)
    df = (
        spark.read.option("header", "true")
        .schema("n_nationkey long, n_name string, n_regionkey long")
        .csv(path)
    )
    assert df.columns[0] == "n_nationkey", "BOM leaked into the header"
    return df


#: fixed-width layout: (name, start 1-based, width)
_FW_LAYOUT = (("n_nationkey", 1, 4), ("n_name", 5, 16), ("n_regionkey", 21, 2))


@query(
    "csv_fixed_width_scan",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def csv_fixed_width_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (COBOL-era mainframe layout) file ingestion — no
    delimiters at all, columns defined by byte positions; still the
    interchange format of core banking and government feeds. The staged
    file packs nation into a (4, 16, 2) layout; the scan reads lines
    with `spark.read.text` and carves columns with codegen `substring`
    + `trim` per layout entry — the declarative equivalent of a copybook,
    no UDF, fully pipelined into the scan.

    Hash-matching the clean parquet proves the round trip: numeric
    fields survive zero-padding-free right-alignment, text survives
    right-space-padding."""
    path = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_nation_fixed.txt")
    if not os.path.exists(path):
        os.makedirs(_STAGE_ROOT, exist_ok=True)
        rows = (
            table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey")
            .collect()
        )
        with open(path + ".tmp", "w") as fh:
            for r in rows:
                fh.write(
                    f"{r.n_nationkey:>4d}{r.n_name:<16s}"
                    f"{r.n_regionkey:>2d}\n"
                )
        os.replace(path + ".tmp", path)
    lines = spark.read.text(path)
    cols = []
    for name, start, width in _FW_LAYOUT:
        c = F.trim(F.substring(F.col("value"), start, width))
        if name.endswith("key"):
            c = c.cast("long")
        cols.append(c.alias(name))
    return lines.select(*cols)


@query(
    "csv_multichar_delim_scan",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def csv_multichar_delim_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-character-delimiter ingestion ('||' — the separator teams
    pick when their text fields contain commas AND pipes): Spark's CSV
    source accepts multi-char `sep` natively (Spark 3.0+), keeping the
    parse in the JVM scan instead of a per-line split UDF. Round-trip
    hash match against clean parquet proves no field bleeding."""
    path = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_nation_pipe2.csv")
    if not os.path.exists(path):
        os.makedirs(_STAGE_ROOT, exist_ok=True)
        rows = (
            table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey")
            .collect()
        )
        with open(path + ".tmp", "w") as fh:
            fh.write("n_nationkey||n_name||n_regionkey\n")
            for r in rows:
                fh.write(f"{r.n_nationkey}||{r.n_name}||{r.n_regionkey}\n")
        os.replace(path + ".tmp", path)
    return (
        spark.read.option("header", "true")
        .option("sep", "||")
        .schema("n_nationkey long, n_name string, n_regionkey long")
        .csv(path)
    )
