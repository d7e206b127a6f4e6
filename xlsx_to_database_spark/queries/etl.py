"""ETL lifecycle operators — the reference's home turf (it is an
xlsx→database ETL tool) re-expressed as distributed, restartable Spark
jobs: upsert/merge, data-quality gating, layout-optimized writes, and
stratified sampling.

Scale notes:
- ``etl_upsert`` is the MERGE-without-a-table-format pattern: a full
  outer join on the business key, source side winning per column. One
  shuffle on the key (or zero against bucketed storage, cf.
  `join_bucketed`); no driver-side diffing.
- ``dq_checks`` runs every audit as an aggregate over ONE pass of each
  table — counting violations, never collecting them. The orphan check
  is a broadcast-able anti join, not a lookup loop.
- ``parquet_clustered_sink`` is the write-side half of data skipping:
  range-partition + sort-within-partitions gives files DISJOINT key
  ranges and narrow row-group min/max stats, so a later predicate scan
  prunes whole files from the footer alone (asserted with pyarrow in
  tests/test_operators.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators.global_order import (
    with_global_row_number,
)
from xlsx_to_database_spark.operators.txn_table import TxnTable
from xlsx_to_database_spark.queries import stage
from xlsx_to_database_spark.queries.sources_sinks import orders_csv_with_garbage
from xlsx_to_database_spark.registry import query


def _updates_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic simulated change batch: every 7th customer gets a
    credit (changed row), every 100th spawns a new account (insert)."""
    c = table(spark, sf_dir, "customer")
    changed = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        "c_mktsegment",
    )
    # Insert keys offset far past any real custkey (1.5M at sf=10): a
    # small offset would collide with existing keys at larger SFs,
    # putting duplicate keys in the batch — a MERGE real engines reject.
    inserted = c.filter(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 100_000_000).alias("c_custkey"),
        F.concat(F.lit("Customer#new"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        "c_mktsegment",
    )
    return changed.unionByName(inserted)


@query(
    "etl_upsert",
    """
    WITH updates AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
               c_mktsegment
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey + 100000000,
               concat('Customer#new', CAST(c_custkey AS VARCHAR)),
               c_nationkey, 0.0, c_mktsegment
        FROM customer WHERE c_custkey % 100 = 0
    )
    SELECT coalesce(u.c_custkey, t.c_custkey)       AS c_custkey,
           coalesce(u.c_name, t.c_name)             AS c_name,
           coalesce(u.c_nationkey, t.c_nationkey)   AS c_nationkey,
           coalesce(u.c_acctbal, t.c_acctbal)       AS c_acctbal,
           coalesce(u.c_mktsegment, t.c_mktsegment) AS c_mktsegment
    FROM customer t FULL OUTER JOIN updates u ON t.c_custkey = u.c_custkey
    """,
)
def etl_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-1 upsert (MERGE) without a table format: target FULL
    OUTER JOIN updates on the business key, update side winning via
    coalesce — updates overwrite, inserts append, untouched rows pass
    through. Distributed end to end: one key shuffle, no driver diffing;
    at 100 TB the update batch is usually broadcast-size, collapsing the
    whole merge into a map-side join plus a pass-through."""
    t = table(spark, sf_dir, "customer").alias("t")
    u = _updates_batch(spark, sf_dir).alias("u")
    joined = t.join(u, F.col("t.c_custkey") == F.col("u.c_custkey"), "full_outer")
    return joined.select(
        *[
            F.coalesce(F.col(f"u.{c}"), F.col(f"t.{c}")).alias(c)
            for c in ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        ]
    )


@query(
    "dq_checks",
    """
    SELECT 'customer_null_name' AS check_name,
           CAST(count(*) FILTER (WHERE c_name IS NULL) AS BIGINT) AS violations,
           CAST(count(*) AS BIGINT) AS rows_checked
    FROM customer
    UNION ALL
    SELECT 'customer_unique_key',
           CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT), CAST(count(*) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'lineitem_discount_domain',
           CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_unique_line',
           CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_orphan_orders',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    """,
)
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: null checks, key uniqueness, value domains,
    and referential integrity, each reported as (check, violations,
    rows_checked). Every check is an AGGREGATE — violations are counted
    where they live, never collected; the orphan check is a left-anti
    join that AQE turns into a broadcast when orders' key set is small
    enough, and a shuffled anti join otherwise."""
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")

    def check(name: str, df: DataFrame, violation_count: F.Column) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            violation_count.cast("long").alias("violations"),
            F.count("*").cast("long").alias("rows_checked"),
        )

    null_name = check(
        "customer_null_name", c, F.count(F.when(F.col("c_name").isNull(), 1))
    )
    uniq_cust = check(
        "customer_unique_key", c, F.count("*") - F.countDistinct("c_custkey")
    )
    domain = check(
        "lineitem_discount_domain",
        li,
        F.count(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1)),
    )
    uniq_line = check(
        "lineitem_unique_line",
        li,
        F.count("*") - F.countDistinct("l_orderkey", "l_linenumber"),
    )
    orphans = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count("*").cast("long").alias("violations"))
        .crossJoin(li.agg(F.count("*").cast("long").alias("rows_checked")))
        .select(
            F.lit("lineitem_orphan_orders").alias("check_name"),
            "violations",
            "rows_checked",
        )
    )
    return null_name.unionByName(uniq_cust).unionByName(domain).unionByName(
        uniq_line
    ).unionByName(orphans)


@query(
    "parquet_clustered_sink",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority
    FROM orders
    """,
)
def parquet_clustered_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-optimized parquet write: `repartitionByRange` on the
    cluster key gives every output file a DISJOINT o_orderdate range,
    and `sortWithinPartitions` keeps row-group min/max stats narrow —
    so a later date-predicate scan prunes whole files from footers
    alone. This is the write-side half of data skipping; the pyarrow
    footer-stat assertions live in tests/test_operators.py. Read-back
    round trip is byte-exact vs the source table."""
    out = stage.path(sf_dir, "orders_clustered")
    o = table(spark, sf_dir, "orders")
    (
        o.repartitionByRange(4, "o_orderdate")
        .sortWithinPartitions("o_orderdate", "o_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    )


@query("sample_stratified")  # rows-only: sampling RNG not reproducible in DuckDB
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-key) Bernoulli sampling via `sampleBy`: different
    keep-rates per return flag — the downsample-the-majority-class shape
    used to rebalance training mixes. Seeded and partition-deterministic;
    a map-only operator (each task coin-flips its own rows, no shuffle).
    Proportion tolerances are asserted in tests/test_operators.py."""
    li = table(spark, sf_dir, "lineitem")
    sampled = li.sampleBy(
        "l_returnflag", fractions={"A": 0.1, "N": 0.02, "R": 0.1}, seed=42
    )
    return sampled.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )


@query(
    "etl_scd2",
    """
    WITH h AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
               lag(o_orderpriority) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders
    ), marked AS (
        SELECT *, CASE WHEN prev IS NULL OR prev <> o_orderpriority
                       THEN 1 ELSE 0 END AS chg
        FROM h
    ), runs AS (
        SELECT o_custkey, o_orderdate, o_orderpriority,
               CAST(sum(chg) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS version
        FROM marked
    )
    SELECT o_custkey, o_orderpriority AS state, version,
           min(o_orderdate) AS valid_from,
           max(o_orderdate) AS valid_to,
           CAST(count(*) AS BIGINT) AS n_obs
    FROM runs
    GROUP BY o_custkey, o_orderpriority, version
    """,
)
def etl_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history build: collapse each customer's order-priority
    observation stream into versioned validity intervals — lag marks
    state changes, a running sum numbers the versions (gaps-and-islands
    again, but keyed by attribute change rather than time gap), and a
    grouped min/max yields [valid_from, valid_to]. Three window passes
    share ONE shuffle+sort on custkey (identical partition+order), then
    one aggregate; no self-joins, no driver-side history walking."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("o_orderpriority").over(w)
    marked = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_orderpriority",
        F.when(prev.isNull() | (prev != F.col("o_orderpriority")), 1)
        .otherwise(0)
        .alias("chg"),
    )
    runs = marked.select(
        "o_custkey",
        "o_orderdate",
        "o_orderpriority",
        F.sum("chg").over(run).alias("version"),
    )
    return (
        runs.groupBy("o_custkey", F.col("o_orderpriority").alias("state"), "version")
        .agg(
            F.min("o_orderdate").alias("valid_from"),
            F.max("o_orderdate").alias("valid_to"),
            F.count("*").alias("n_obs"),
        )
        .select("o_custkey", "state", "version", "valid_from", "valid_to", "n_obs")
    )


@query(
    "profile_table",
    """
    SELECT 'o_orderkey' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(o_orderkey) AS BIGINT) AS n_nonnull,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_val,
           CAST(max(o_orderkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
           CAST(count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           CAST(round(min(o_totalprice), 2) AS VARCHAR),
           CAST(round(max(o_totalprice), 2) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the first thing an ingest tool (the reference's
    xlsx→database class) runs on arrival: per-column row/non-null/
    distinct counts and min/max, emitted as one row per column. ONE scan
    computes every column's stats simultaneously (a single aggregate
    with all the counters side-by-side, unpivoted after) — never one
    pass per column, which at 100 TB turns profiling into N full scans.
    min/max stringified so heterogeneous column types stack in one
    result."""
    o = table(spark, sf_dir, "orders")
    # All stats in ONE aggregate row...
    agg = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[
            e
            for c in ("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
            for e in (
                F.count(F.col(c)).cast("long").alias(f"{c}__nn"),
                F.countDistinct(F.col(c)).cast("long").alias(f"{c}__nd"),
            )
        ],
        F.min("o_orderkey").cast("string").alias("o_orderkey__min"),
        F.max("o_orderkey").cast("string").alias("o_orderkey__max"),
        F.min("o_orderstatus").cast("string").alias("o_orderstatus__min"),
        F.max("o_orderstatus").cast("string").alias("o_orderstatus__max"),
        F.round(F.min("o_totalprice"), 2).cast("string").alias("o_totalprice__min"),
        F.round(F.max("o_totalprice"), 2).cast("string").alias("o_totalprice__max"),
        F.min("o_orderpriority").cast("string").alias("o_orderpriority__min"),
        F.max("o_orderpriority").cast("string").alias("o_orderpriority__max"),
    )
    # ...then unpivoted to one row per column (stack is a generator —
    # no extra pass, no shuffle).
    cols = ("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    stack_expr = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__min, {c}__max" for c in cols
    )
    return agg.selectExpr(
        f"stack({len(cols)}, {stack_expr}) AS (col_name, n_nonnull, n_distinct, min_val, max_val)",
        "n_rows",
    ).select("col_name", "n_rows", "n_nonnull", "n_distinct", "min_val", "max_val")


@query(
    "etl_snapshot_diff",
    """
    WITH old AS (
        -- floor(x*100+0.5)/100 on BOTH sides: engine round() half-ulp
        -- semantics differ and *1.05 manufactures boundary cases
        SELECT o_orderkey, floor(o_totalprice * 100 + 0.5) / 100 AS val
        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    ), new AS (
        SELECT o_orderkey,
               floor(CASE WHEN o_orderpriority = '1-URGENT'
                          THEN o_totalprice * 1.05
                          ELSE o_totalprice END * 100 + 0.5) / 100 AS val
        FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    )
    SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           old.val AS old_val, new.val AS new_val
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old.val <> new.val
    """,
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — derive a change log (added/removed/changed) from
    two table versions, the INVERSE of `etl_cdc_apply` (which folds a
    log into state). One full-outer join on the key, then a row-level
    comparison; unchanged rows are dropped so the output is
    change-sized, not table-sized. At 100 TB this is how you bootstrap
    CDC for a source that only offers periodic full dumps: diff
    consecutive snapshots (both sides co-partition on the key — one
    shuffle each) and feed the result to the same downstream as a real
    CDC feed. The 'changed' comparison on round(..., 2) values is
    engine-exact (same doubles, same rounding)."""
    o = table(spark, sf_dir, "orders")
    old = o.filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select(
        F.col("o_orderkey").alias("old_key"),
        (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) / 100).alias("old_val"),
    )
    new = o.filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    ).select(
        F.col("o_orderkey").alias("new_key"),
        (
            F.floor(
                F.when(
                    F.col("o_orderpriority") == "1-URGENT",
                    F.col("o_totalprice") * 1.05,
                ).otherwise(F.col("o_totalprice"))
                * 100
                + F.lit(0.5)
            )
            / 100
        ).alias("new_val"),
    )
    joined = old.join(new, old.old_key == new.new_key, "full_outer")
    return (
        joined.filter(
            F.col("old_key").isNull()
            | F.col("new_key").isNull()
            | (F.col("old_val") != F.col("new_val"))
        )
        .select(
            F.coalesce("old_key", "new_key").alias("o_orderkey"),
            F.when(F.col("old_key").isNull(), "added")
            .when(F.col("new_key").isNull(), "removed")
            .otherwise("changed")
            .alias("change_type"),
            "old_val",
            "new_val",
        )
    )


@query(
    "etl_incremental_agg",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*), 6) AS avg_price,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
               AS total_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def etl_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of an aggregate table: the standing
    state holds per-key mergeable partials (count, decimal sum) over the
    already-ingested orders (o_orderkey % 5 != 0); a new batch
    (% 5 == 0) is aggregated to the same partial shape and UNION-merged
    — final metrics derive from the merged partials. The oracle is the
    full recompute over everything, proving merge-equals-recompute:
    count and decimal-sum are commutative monoids, so maintaining the
    MB-scale state table costs one batch-sized aggregate per ingest
    instead of re-scanning the (100 TB) fact history. Averages and other
    non-mergeable metrics are DERIVED from the partials at read time —
    never stored — which is the entire trick."""
    o = table(spark, sf_dir, "orders")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("s"),
        )

    state = partials(o.filter(F.col("o_orderkey") % 5 != 0))
    batch = partials(o.filter(F.col("o_orderkey") % 5 == 0))
    merged = state.unionByName(batch).groupBy("o_orderpriority").agg(
        F.sum("c").alias("c"), F.sum("s").alias("s")
    )
    return merged.select(
        "o_orderpriority",
        F.col("c").alias("n_orders"),
        F.round(F.col("s").cast("double") / F.col("c"), 6).alias("avg_price"),
        F.round(F.col("s").cast("double"), 4).alias("total_price"),
    )


@query(
    "etl_partition_overwrite",
    """
    WITH post AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderpriority <> '1-URGENT'
        UNION ALL
        SELECT o_orderkey, o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    + CAST(25.00 AS DECIMAL(4,2)) AS DOUBLE)
        FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total
    FROM post GROUP BY o_orderpriority
    """,
)
def etl_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill primitive:
    rewriting one hive partition replaces ONLY the files under that
    partition directory, leaving siblings untouched (mode('overwrite')
    with partitionOverwriteMode=dynamic; static mode would truncate the
    whole table). Here: stage orders partitioned by priority, then
    re-publish the 1-URGENT partition from a filtered+repriced batch;
    the read-back aggregate proves the other four partitions survived.
    At 100 TB this is how daily re-runs stay O(changed partition), not
    O(table) — the poor man's transactional MERGE when no ACID table
    format is available (see SCALE.md on rewrite amplification)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    dst = stage.path(sf_dir, "orders_dynpart")
    (
        o.write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(dst)
    )
    batch = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 150000)
        )
        # Adjust in DECIMAL with no scale reduction (a flat surcharge):
        # decimal+decimal at 2dp is exact in both engines, whereas any
        # rounding step (round(x*1.1, 2)) exposes engine rounding-mode
        # differences — HALF_UP vs truncation — one cent per row.
        .withColumn(
            "o_totalprice",
            (
                F.col("o_totalprice").cast("decimal(18,2)")
                + F.lit("25.00").cast("decimal(4,2)")
            ).cast("double"),
        )
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            batch.write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(dst)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(dst)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total"),
    )


@query(
    "etl_compact_files",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total
    FROM events GROUP BY event_type
    """,
)
def etl_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job every streaming/
    incremental pipeline needs: a sink that commits per micro-batch (or
    per task) leaves thousands of KB-sized files, and at 100 TB the
    NameNode/listing/task-scheduling overhead of small files dominates
    scan cost. This op fragments events into 64 splinter files, then
    compacts with a round-robin `repartition(4)` rewrite (repartition,
    not coalesce: coalesce(4) would merge map-side and skip the shuffle
    but chains upstream partitioning — fine for a pure rewrite, but
    repartition also rebalances skewed splinters; for a sorted layout
    use repartitionByRange, see parquet_clustered_sink). The exact
    read-back aggregate proves content integrity through both rewrites;
    file counts are asserted in tests (tests/test_operators.py::
    test_compact_files_counts — not here: in-op asserts vanish under
    ``python -O``, and round-robin partitions of a <64-row input
    legitimately emit fewer part files)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    frag = stage.path(sf_dir, "events_fragmented")
    compact = stage.path(sf_dir, "events_compacted")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    small = spark.read.parquet(frag)
    small.repartition(4).write.mode("overwrite").parquet(compact)
    back = spark.read.parquet(compact)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("total"),
    )


@query(
    "etl_cdc_apply",
    """
    SELECT o_custkey AS key, o_orderkey AS last_seq,
           CASE o_orderstatus WHEN 'O' THEN 'I' WHEN 'F' THEN 'U'
                ELSE 'D' END AS last_op,
           round(o_totalprice, 2) AS value
    FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        FROM orders
    )
    WHERE rn = 1
      AND CASE o_orderstatus WHEN 'O' THEN 'I' WHEN 'F' THEN 'U'
               ELSE 'D' END <> 'D'
    """,
)
def etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC change log to final state: latest-wins per key by
    sequence number, with a trailing delete removing the key entirely.
    The log is modeled on orders (key = custkey, seq = orderkey, op
    mapped from order status: O→insert, F→update, else delete). One
    window shuffle on the key — rank descending, keep rn=1, drop keys
    whose last op is a delete. At 100 TB this is the canonical
    log-compaction shape: no join against the prior state is needed
    when the log itself carries full rows (contrast `etl_upsert`, which
    merges a keyed batch INTO existing state)."""
    o = table(spark, sf_dir, "orders")
    op = (
        F.when(F.col("o_orderstatus") == "O", "I")
        .when(F.col("o_orderstatus") == "F", "U")
        .otherwise("D")
    )
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderkey").desc())
    return (
        o.select(
            F.col("o_custkey").alias("key"),
            F.col("o_orderkey").alias("last_seq"),
            op.alias("last_op"),
            F.round("o_totalprice", 2).alias("value"),
        )
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("key").orderBy(F.col("last_seq").desc())
        ))
        .filter((F.col("rn") == 1) & (F.col("last_op") != "D"))
        .drop("rn")
    )


@query(
    "dq_outlier",
    """
    WITH stats AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS s1,
               -- DuckDB decimal multiply requires w1+w2 <= 38; 19+19 fits
               -- and quantizes identically to Spark's (18,4) operands.
               CAST(sum(CAST(o_totalprice AS DECIMAL(19,4))
                        * CAST(o_totalprice AS DECIMAL(19,4))) AS DOUBLE) AS s2
        FROM orders GROUP BY o_orderpriority
    ), scored AS (
        SELECT o_orderkey, o.o_orderpriority, o_totalprice,
               (o_totalprice - s1 / n)
               / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS z
        FROM orders o JOIN stats ON o.o_orderpriority = stats.o_orderpriority
    )
    SELECT o_orderkey, o_orderpriority,
           round(o_totalprice, 2) AS o_totalprice, round(z, 4) AS z
    FROM scored
    WHERE abs(z) > 1.8
    """,
)
def dq_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per group — the data-quality screen a
    training-data pipeline runs before ingest. Mean and variance come
    from DECIMAL(18,4) sum / sum-of-squares (single-pass, mergeable,
    associative ⇒ identical on both engines and any partition count),
    then the z algebra runs in DOUBLE on those identical inputs, so the
    |z| > 1.8 threshold is an EXACT comparison — no float-fuzzy
    boundary. Plan: one grouped aggregate (5 groups → broadcast back),
    one map-side scoring pass; the fact table shuffles zero times."""
    o = table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,4)")
    stats = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec).cast("double").alias("s1"),
        F.sum(dec * dec).cast("double").alias("s2"),
    )
    z = (F.col("o_totalprice") - F.col("s1") / F.col("n")) / F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    )
    return (
        o.join(F.broadcast(stats), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round(z, 4).alias("z"),
            z.alias("_z"),
        )
        .filter(F.abs(F.col("_z")) > 1.8)
        .drop("_z")
    )


@query(
    "interval_concurrency",
    """
    WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS t0,
               epoch_us(ts) + CAST(floor(value * 60) AS BIGINT) * 1000000 AS t1
        FROM events
    ), points AS (
        SELECT user_id, event_id, t0 AS t, 1 AS delta FROM iv
        UNION ALL
        SELECT user_id, event_id, t1 AS t, -1 AS delta FROM iv
    ), swept AS (
        SELECT user_id, event_id, t, delta,
               CAST(sum(delta) OVER (
                   PARTITION BY user_id ORDER BY t, delta DESC, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS concurrency
        FROM points
    )
    SELECT user_id, event_id, concurrency
    FROM swept WHERE delta = 1
    """,
)
def interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval overlap: how many of the user's sessions
    (event start → start + value minutes) are simultaneously open when
    each one begins. The classic O(n log n) algorithm, distributed:
    every interval emits a +1 at its start and a −1 at its end, and a
    running sum over the merged timeline reads off the concurrency —
    no self-join (the naive interval-overlap join is O(n²) per
    entity). One union of two projections of the same scan, one
    window shuffle on the entity key. Tie order (t, delta DESC,
    event_id) is total and counts a session starting exactly when
    another ends as overlapping — the same rule on both engines.
    Epoch math uses floor() before the bigint cast: Spark truncates
    double→long where DuckDB rounds."""
    ev = table(spark, sf_dir, "events")
    t0 = F.unix_micros(F.col("ts"))
    dur = F.floor(F.col("value") * 60).cast("long") * 1000000
    iv = ev.select(
        "user_id", "event_id", t0.alias("t0"), (t0 + dur).alias("t1")
    )
    points = iv.select(
        "user_id", "event_id", F.col("t0").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select(
            "user_id", "event_id", F.col("t1").alias("t"), F.lit(-1).alias("delta")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t"), F.col("delta").desc(), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        points.select(
            "user_id",
            "event_id",
            "delta",
            F.sum("delta").over(w).cast("long").alias("concurrency"),
        )
        .filter(F.col("delta") == 1)
        .select("user_id", "event_id", "concurrency")
    )


@query(
    "dq_anomaly_mad",
    """
    WITH med AS (
        SELECT c_mktsegment,
               round(quantile_cont(c_acctbal, 0.5), 4) AS m
        FROM customer GROUP BY c_mktsegment
    ), mad AS (
        SELECT c.c_mktsegment,
               round(quantile_cont(abs(c_acctbal - m), 0.5), 4) AS d
        FROM customer c JOIN med USING (c_mktsegment)
        GROUP BY c.c_mktsegment
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN abs(c_acctbal - m)
                              > round(3 * 1.4826 * d, 4)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM customer c JOIN med USING (c_mktsegment) JOIN mad USING (c_mktsegment)
    GROUP BY c.c_mktsegment
    """,
)
def dq_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    data-quality screen that, unlike z-scores (`dq_outlier`), is not
    itself dragged by the outliers it hunts: flag |x - median| >
    3 * 1.4826 * MAD (1.4826 scales MAD to sigma under normality). Two
    chained exact-percentile aggregates (median, then median of
    absolute deviations — the second NEEDS the first, so two passes is
    the true data dependency), each producing a SEGMENTS-sized table
    broadcast back onto the scan. Boundaries rounded to 4dp on both
    engines so flag decisions are spec-defined at the last ulp. At
    100 TB both medians switch to `approx_percentile` sketches; the
    flagging pass is unchanged."""
    c = table(spark, sf_dir, "customer")
    med = c.groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", 0.5), 4).alias("m")
    )
    mad = (
        c.join(med, "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.round(
                F.percentile(F.abs(F.col("c_acctbal") - F.col("m")), 0.5), 4
            ).alias("d")
        )
    )
    thresh = F.round(3 * 1.4826 * F.col("d"), 4)
    return (
        c.join(med, "c_mktsegment")
        .join(mad, "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.abs(F.col("c_acctbal") - F.col("m")) > thresh, 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


@query(
    "etl_surrogate_keys",
    """
    WITH dim AS (
      SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS sk
      FROM customer WHERE c_custkey % 10 <> 0
    ), mx AS (
      SELECT max(sk) AS k FROM dim
    ), nw AS (
      SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS rn
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT c_custkey, CAST(sk AS BIGINT) AS sk, CAST(0 AS INT) AS is_new
    FROM dim
    UNION ALL
    SELECT c_custkey, CAST(k + rn AS BIGINT) AS sk, CAST(1 AS INT) AS is_new
    FROM nw, mx
    """,
)
def etl_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental surrogate-key assignment — the warehouse load step
    the reference capability class performs on every spreadsheet import:
    rows already in the dimension keep their dense keys 1..K; the new
    batch (here the deterministic c_custkey%10==0 slice standing in for
    today's file) gets K+1.. in natural-key order. Both numberings use
    the bucketed exact global row_number (operators/global_order.py) —
    no single-partition sort at dimension scale — and the K offset rides
    a broadcast one-row aggregate, not a driver collect, so the whole
    assignment stays one lazy distributed plan."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    order = [F.col("c_custkey").asc()]
    dim = with_global_row_number(
        c.filter(F.col("c_custkey") % 10 != 0), order, "c_custkey", out="sk"
    )
    mx = dim.agg(F.max("sk").alias("k"))
    new = with_global_row_number(
        c.filter(F.col("c_custkey") % 10 == 0), order, "c_custkey", out="rn"
    )
    return dim.select(
        "c_custkey", "sk", F.lit(0).cast("int").alias("is_new")
    ).unionAll(
        new.crossJoin(F.broadcast(mx)).select(
            "c_custkey",
            (F.col("k") + F.col("rn")).cast("long").alias("sk"),
            F.lit(1).cast("int").alias("is_new"),
        )
    )


@query(
    "sample_systematic",
    """
    SELECT c_custkey, c_name
    FROM (SELECT c_custkey, c_name,
                 row_number() OVER (ORDER BY c_custkey) AS rn
          FROM customer)
    WHERE rn % 100 = 0
    """,
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th) sampling under a global order — the
    auditor's sample: deterministic, order-respecting, exactly n/k
    rows, unlike Bernoulli (sample_frac) or hash buckets (sample_hash).
    Needs a global position, which is exactly what the bucketed global
    row_number provides without a single-partition sort
    (operators/global_order.py); the modulo filter is then map-only."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    ranked = with_global_row_number(
        c, [F.col("c_custkey").asc()], "c_custkey", out="rn"
    )
    return ranked.filter(F.col("rn") % 100 == 0).select("c_custkey", "c_name")


@query(
    "interval_coverage",
    """
    WITH iv AS (
      SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 30 AS e
      FROM orders
    ), m AS (
      SELECT k, s, e,
             max(e) OVER (PARTITION BY k ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM iv
    ), isl AS (
      SELECT k, s, e,
             sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY k ORDER BY s, e ROWS UNBOUNDED PRECEDING)
               AS island
      FROM m
    ), per AS (
      SELECT k, island, date_diff('day', min(s), max(e)) AS dur
      FROM isl GROUP BY k, island
    )
    SELECT k AS c_custkey, CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(dur) AS BIGINT) AS covered_days
    FROM per GROUP BY k
    """,
)
def interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval coverage per customer — each order opens a 30-day
    activity window; overlapping windows merge, and the answer is how
    many distinct islands exist and how many days they cover (the union
    length of an interval set — SLA coverage, sensor uptime, campaign
    reach all reduce to this). The classic sweep, expressed in two
    windows over (customer)-partitioned data: a running max of interval
    ends detects island starts (a start past everything seen so far),
    a running sum numbers the islands, then one aggregate per island.
    Deterministic under ties: equal (s,e) rows contribute the same
    running max regardless of their relative order, so both engines
    agree. Partitions are per-customer (bounded), never global."""
    o = table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("e"),
    )
    w_prev = (
        Window.partitionBy("k")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("k")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = iv.withColumn("prev_max", F.max("e").over(w_prev)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1
            ).otherwise(0)
        ).over(w_run),
    )
    per = isl.groupBy("k", "island").agg(
        F.datediff(F.max("e"), F.min("s")).alias("dur")
    )
    return per.groupBy(F.col("k").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("dur").cast("long").alias("covered_days"),
    )


@query(
    "interval_gaps",
    """
    WITH iv AS (
      SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 30 AS e
      FROM orders
    ), m AS (
      SELECT k, s,
             max(e) OVER (PARTITION BY k ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM iv
    )
    SELECT k AS c_custkey, CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(max(gap) AS BIGINT) AS max_gap_days,
           CAST(sum(gap) AS BIGINT) AS idle_days
    FROM (
      SELECT k, date_diff('day', prev_max, s) AS gap
      FROM m WHERE prev_max IS NOT NULL AND s > prev_max
    ) t GROUP BY k
    """,
)
def interval_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idle-gap analysis — the complement of `interval_coverage`: how
    long were the dark periods between a customer's activity islands
    (the SLA question is always 'what was the longest outage', never
    'what was covered'). Shares the sweep skeleton: a per-customer
    running max of interval ends; a row whose start clears everything
    seen so far opens a gap of (start - prev_max) days. One
    per-customer window + one aggregate; partitions are per-customer
    (bounded), never global. Customers with no gap (one island)
    disappear, matching the oracle's inner aggregation."""
    o = table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("e"),
    )
    w_prev = (
        Window.partitionBy("k")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = iv.withColumn("prev_max", F.max("e").over(w_prev))
    gaps = m.filter(
        F.col("prev_max").isNotNull() & (F.col("s") > F.col("prev_max"))
    ).select("k", F.datediff("s", "prev_max").alias("gap"))
    return gaps.groupBy(F.col("k").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.max("gap").cast("long").alias("max_gap_days"),
        F.sum("gap").cast("long").alias("idle_days"),
    )


@query(
    "etl_calendar_scaffold",
    """
    WITH span AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
      FROM events
    ), days AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM span
    ), types AS (SELECT DISTINCT event_type FROM events),
    actual AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT d.day, t.event_type,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_events
    FROM days d CROSS JOIN types t
    LEFT JOIN actual a ON a.day = d.day AND a.event_type = t.event_type
    """,
)
def etl_calendar_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar scaffolding / gap backfill — the densification every
    time-series consumer needs before window math: a (day × event_type)
    grid spanning the data's full date range, left-joined onto actual
    daily counts with zero-fill, so silent days EXIST as rows (a moving
    average over a frame with missing days is silently wrong — the
    frame must see the zeros). The day spine explodes from a one-row
    (min, max) aggregate via `sequence` — never a driver-side range
    loop; the type dimension is data-derived and bounded. Scaffold size
    is calendar-span × types (metadata-scale); only the daily aggregate
    touches data."""
    ev = table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    days = span.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    types = ev.select("event_type").distinct()
    actual = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    grid = days.crossJoin(types)
    return grid.join(actual, ["day", "event_type"], "left").select(
        "day",
        "event_type",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
    )


@query(
    "etl_scd2_lookup",
    """
    WITH dim AS (
      SELECT c_custkey, DATE '1992-01-01' AS ef,
             CASE WHEN c_custkey % 7 = 0 THEN DATE '1996-01-01'
                  ELSE DATE '9999-12-31' END AS et,
             1 AS ver
      FROM customer
      UNION ALL
      SELECT c_custkey, DATE '1996-01-01', DATE '9999-12-31', 2
      FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT ver, CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS revenue
    FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
      AND o.o_orderdate >= d.ef AND o.o_orderdate < d.et
    GROUP BY ver
    """,
)
def etl_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup — the consumer half of `etl_scd2`
    and THE join of dimensional modeling: each fact row joins the
    dimension VERSION whose [effective_from, effective_to) validity
    interval contains the fact date (every 7th customer re-versions on
    1996-01-01). Plan shape: an EQUI-join on the business key with the
    validity range as a post-join filter — versions per key are bounded
    small (append-only history, single digits in practice), so the
    bounded fan-out equi-join is strictly better than any interval-join
    rewrite at 100 TB; AQE picks broadcast vs shuffle from the dim's
    measured size."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    v1 = c.select(
        "c_custkey",
        F.lit("1992-01-01").cast("date").alias("ef"),
        F.when(
            F.col("c_custkey") % 7 == 0, F.lit("1996-01-01")
        ).otherwise(F.lit("9999-12-31")).cast("date").alias("et"),
        F.lit(1).alias("ver"),
    )
    v2 = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit("1996-01-01").cast("date").alias("ef"),
        F.lit("9999-12-31").cast("date").alias("et"),
        F.lit(2).alias("ver"),
    )
    dim = v1.unionByName(v2)
    j = o.join(dim, o.o_custkey == dim.c_custkey).filter(
        (F.col("o_orderdate") >= F.col("ef"))
        & (F.col("o_orderdate") < F.col("et"))
    )
    return j.groupBy("ver").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("revenue"),
    )


@query(
    "etl_train_test_split",
    """
    WITH tagged AS (
      SELECT doc_id,
             CASE WHEN h < 90 THEN 'train'
                  WHEN h < 95 THEN 'val' ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               (doc_id * 2654435761 + 12345) % 100 AS h
        FROM documents
      )
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id
    FROM tagged GROUP BY split
    """,
)
def etl_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by a
    multiplicative hash of the document id — the split every training
    pipeline needs, with the two properties random splits silently
    lose at scale: (1) STABILITY — re-running on a grown corpus never
    moves an old document between splits (its id hashes the same), so
    eval sets stay uncontaminated across refreshes; (2) JOIN-FREE —
    the label is a map-only expression, never a membership table to
    look up. Disjointness and assignment are pinned by the exact
    oracle replaying identical integer arithmetic."""
    d = table(spark, sf_dir, "documents")
    h = F.pmod(F.col("doc_id") * F.lit(2654435761) + F.lit(12345),
               F.lit(100))
    split = (
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
    )


@query(
    "etl_dead_letter",
    """
    SELECT 'good' AS route, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) + sum(o_custkey) AS BIGINT) AS key_checksum,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS revenue
    FROM orders
    UNION ALL
    SELECT 'dead_letter', 3, NULL, NULL
    """,
)
def etl_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing — `csv_malformed_scan`'s DROP policy loses
    the broken rows; production ingestion ROUTES them: PERMISSIVE parse
    with a corrupt-record column, good rows land in the warehouse, raw
    broken lines land in a dead-letter store for replay/forensics. BOTH
    route counts come from READING BACK the written files (not the
    in-flight frame), so the op proves both sides of the quarantine
    actually persisted. The parsed frame is cached for the one good/bad
    split — the documented exception to the no-cache habit: Spark
    disallows queries referencing ONLY the corrupt column precisely
    because each access would re-parse; a DLQ split wants exactly one
    parse. Returning read-backs (never the raw-CSV frame) is ALSO a
    correctness requirement, not a style choice: a downstream
    ``count()`` over a returned raw-CSV plan would column-prune the
    good branch to `_corrupt` alone and trip
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN once the
    cache is gone (observed: mirror `collect()` passed, entry
    `count()` failed); parquet/text read-backs are pruning-proof."""
    dst = orders_csv_with_garbage(spark, sf_dir)
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderpriority string, "
        "o_totalprice double, _corrupt string"
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(dst)
        .cache()
    )
    dlq = f"{dst}_dlq"
    (
        df.filter(F.col("_corrupt").isNotNull())
        .select("_corrupt")
        .write.mode("overwrite")
        .text(dlq)
    )
    # Selecting EVERY real column here does double duty: (1) CSV
    # type-checking is pruned to the referenced columns (even through
    # the cache), so a projection without o_totalprice would pass rows
    # whose breakage lives in an unreferenced field (the
    # csv_malformed_scan lesson, and the cause of an observed 2-row
    # leak into the good route); (2) the good route persists the full
    # parsed record, which is what the warehouse side of a DLQ split
    # stores anyway.
    good_dst = f"{dst}_good"
    (
        df.filter(F.col("_corrupt").isNull())
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite")
        .parquet(good_dst)
    )
    good = spark.read.parquet(good_dst).agg(
        F.lit("good").alias("route"),
        F.count(F.lit(1)).alias("n"),
        (F.sum("o_orderkey") + F.sum("o_custkey")).cast("long").alias(
            "key_checksum"
        ),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("revenue"),
    )
    dead = spark.read.text(dlq).agg(
        F.lit("dead_letter").alias("route"),
        F.count(F.lit(1)).alias("n"),
        F.lit(None).cast("long").alias("key_checksum"),
        F.lit(None).cast("double").alias("revenue"),
    )
    out = good.unionAll(dead)
    df.unpersist()
    return out


@query(
    "dq_schema_drift",
    """
    WITH old AS (SELECT * FROM orders WHERE o_orderdate < DATE '1998-01-01'),
         new AS (SELECT * FROM orders WHERE o_orderdate >= DATE '1998-01-01')
    SELECT col_name, n_old, n_new, null_rate_old, null_rate_new,
           distinct_old, distinct_new,
           (abs(CAST(distinct_new AS DOUBLE) / n_new
                - CAST(distinct_old AS DOUBLE) / n_old) > 0.05
            OR abs(null_rate_new - null_rate_old) > 0.05) AS drift
    FROM (
      SELECT 'o_orderstatus' AS col_name,
             CAST((SELECT count(*) FROM old) AS BIGINT) AS n_old,
             CAST((SELECT count(*) FROM new) AS BIGINT) AS n_new,
             round(1 - CAST((SELECT count(o_orderstatus) FROM old) AS DOUBLE)
                       / (SELECT count(*) FROM old), 6) AS null_rate_old,
             round(1 - CAST((SELECT count(o_orderstatus) FROM new) AS DOUBLE)
                       / (SELECT count(*) FROM new), 6) AS null_rate_new,
             CAST((SELECT count(DISTINCT o_orderstatus) FROM old) AS BIGINT)
               AS distinct_old,
             CAST((SELECT count(DISTINCT o_orderstatus) FROM new) AS BIGINT)
               AS distinct_new
      UNION ALL
      SELECT 'o_orderpriority',
             CAST((SELECT count(*) FROM old) AS BIGINT),
             CAST((SELECT count(*) FROM new) AS BIGINT),
             round(1 - CAST((SELECT count(o_orderpriority) FROM old) AS DOUBLE)
                       / (SELECT count(*) FROM old), 6),
             round(1 - CAST((SELECT count(o_orderpriority) FROM new) AS DOUBLE)
                       / (SELECT count(*) FROM new), 6),
             CAST((SELECT count(DISTINCT o_orderpriority) FROM old) AS BIGINT),
             CAST((SELECT count(DISTINCT o_orderpriority) FROM new) AS BIGINT)
      UNION ALL
      SELECT 'o_custkey',
             CAST((SELECT count(*) FROM old) AS BIGINT),
             CAST((SELECT count(*) FROM new) AS BIGINT),
             round(1 - CAST((SELECT count(o_custkey) FROM old) AS DOUBLE)
                       / (SELECT count(*) FROM old), 6),
             round(1 - CAST((SELECT count(o_custkey) FROM new) AS DOUBLE)
                       / (SELECT count(*) FROM new), 6),
             CAST((SELECT count(DISTINCT o_custkey) FROM old) AS BIGINT),
             CAST((SELECT count(DISTINCT o_custkey) FROM new) AS BIGINT)
    )
    ORDER BY col_name
    """,
)
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot data drift report (the Deequ/Great-
    Expectations 'profile diff' job): for each monitored column,
    compare null rate and distinct cardinality between the old
    (< 1998) and new (≥ 1998) order snapshots and flag columns whose
    null-rate or distinct-ratio moved more than 5 points —
    `stat_psi_drift` watches one numeric distribution; this watches
    the SCHEMA-level health of many columns at once (the check that
    catches an upstream producer silently nulling a field or a
    cardinality explosion). ONE pass over the fact table: every
    (snapshot × column) statistic is a conditional aggregate in a
    single groupBy-less agg — count distincts per snapshot via
    count(DISTINCT when(cond, col)); Spark plans multi-distinct
    aggregates with one Expand, still a single scan.

    Scale shape: one scan + Expand(6 distinct groups) + 1-row final;
    the per-column report is built metadata-side from that row via a
    bounded 3-element explode — no per-column rescans at any SF."""
    o = table(spark, sf_dir, "orders")
    old = F.col("o_orderdate") < "1998-01-01"
    new = ~old
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey"]
    aggs = [
        F.count_if(old).alias("n_old"),
        F.count_if(new).alias("n_new"),
    ]
    for c in cols:
        aggs += [
            F.count(F.when(old, F.col(c))).alias(f"nn_old_{c}"),
            F.count(F.when(new, F.col(c))).alias(f"nn_new_{c}"),
            F.countDistinct(F.when(old, F.col(c))).alias(f"nd_old_{c}"),
            F.countDistinct(F.when(new, F.col(c))).alias(f"nd_new_{c}"),
        ]
    one = o.agg(*aggs)
    per = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.col(f"nn_old_{c}").alias("nn_old"),
                    F.col(f"nn_new_{c}").alias("nn_new"),
                    F.col(f"nd_old_{c}").alias("nd_old"),
                    F.col(f"nd_new_{c}").alias("nd_new"),
                )
                for c in cols
            ]
        )
    ).alias("s")
    t = one.select("n_old", "n_new", per).select(
        "s.col_name", "n_old", "n_new",
        "s.nn_old", "s.nn_new", "s.nd_old", "s.nd_new",
    )
    nr_old = F.round(
        F.lit(1) - F.col("nn_old").cast("double") / F.col("n_old"), 6
    )
    nr_new = F.round(
        F.lit(1) - F.col("nn_new").cast("double") / F.col("n_new"), 6
    )
    return t.select(
        "col_name",
        F.col("n_old").cast("long").alias("n_old"),
        F.col("n_new").cast("long").alias("n_new"),
        nr_old.alias("null_rate_old"),
        nr_new.alias("null_rate_new"),
        F.col("nd_old").cast("long").alias("distinct_old"),
        F.col("nd_new").cast("long").alias("distinct_new"),
        (
            (
                F.abs(
                    F.col("nd_new").cast("double") / F.col("n_new")
                    - F.col("nd_old").cast("double") / F.col("n_old")
                )
                > 0.05
            )
            | (F.abs(nr_new - nr_old) > 0.05)
        ).alias("drift"),
    ).orderBy("col_name")


@query(
    "etl_k_anonymize",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS n
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(c_nationkey AS VARCHAR) AS nation, c_mktsegment AS segment,
           CAST(n AS BIGINT) AS n_rows, FALSE AS suppressed
    FROM g WHERE n >= 5
    UNION ALL
    SELECT '*', '*', CAST(sum(n) AS BIGINT), TRUE
    FROM g WHERE n < 5 HAVING count(*) > 0
    """,
)
def etl_k_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression (k=5) over the quasi-identifier pair
    (nation, market segment): publishable groups keep their counts;
    every group smaller than k is generalized into ONE suppressed
    bucket ('*', '*') so no released row describes fewer than k
    people — the minimum viable privacy gate for sharing aggregates
    out of a 100 TB user corpus (`pii_redact` scrubs values INSIDE
    rows; this bounds re-identification across rows). One hash
    aggregate to the quasi-identifier groups, then a metadata-scale
    split on the k threshold; the suppressed bucket is a one-row
    re-aggregate guarded to vanish when nothing needs suppression.

    Scale shape: one combiner-friendly shuffle on the QI key; the
    k-filter and bucket union run on group counts (≤ |QI| rows)."""
    c = table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    keep = g.filter(F.col("n") >= 5).select(
        F.col("c_nationkey").cast("string").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.col("n").cast("long").alias("n_rows"),
        F.lit(False).alias("suppressed"),
    )
    supp = (
        g.filter(F.col("n") < 5)
        .agg(F.sum("n").alias("s"), F.count(F.lit(1)).alias("ng"))
        .filter(F.col("ng") > 0)
        .select(
            F.lit("*").alias("nation"),
            F.lit("*").alias("segment"),
            F.col("s").cast("long").alias("n_rows"),
            F.lit(True).alias("suppressed"),
        )
    )
    return keep.unionAll(supp)


@query(
    "sample_weighted",
    """
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             (o_orderkey * 2654435761 + 7919) % 1048576 AS u,
             least(CAST(floor(o_totalprice * 1048576.0 / 600000.0)
                        AS BIGINT), 1048576) AS p
      FROM orders
    )
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
           round(1048576.0 / p, 6) AS ht_weight
    FROM t WHERE u < p
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Poisson sampling with deterministic pseudo-randomness —
    each order is kept with probability proportional to its price
    (p = totalprice/600k), decided by an integer multiplicative hash of
    the key instead of engine RNG. That buys the three properties
    `sample_frac` (RNG, rows-only check) can't give a 100 TB pipeline:
    EXACT reproducibility across engines/retries/partitionings, an
    exact oracle (this op hash-matches, not rows-only), and stability —
    re-runs keep the same sample. The Horvitz–Thompson weight 1/p is
    emitted so downstream sums stay unbiased.

    All the selection math is integer (hash mod 2^20 vs a floored
    scaled probability); the only doubles are one correctly-rounded
    multiply/divide pair, identical on both engines. Map-only: the
    filter evaluates in the scan stage, no shuffle."""
    o = table(spark, sf_dir, "orders")
    u = (F.col("o_orderkey") * F.lit(2654435761) + F.lit(7919)) % F.lit(1048576)
    p = F.least(
        F.floor(F.col("o_totalprice") * F.lit(1048576.0) / F.lit(600000.0))
        .cast("long"),
        F.lit(1048576).cast("long"),
    )
    return (
        o.select("o_orderkey", "o_totalprice", u.alias("u"), p.alias("p"))
        .filter(F.col("u") < F.col("p"))
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round(F.lit(1048576.0) / F.col("p"), 6).alias("ht_weight"),
        )
    )


@query(
    "dq_ref_integrity",
    """
    WITH v1 AS (
      SELECT count(*) AS n_child,
             count(*) FILTER (WHERE c_custkey IS NULL) AS n_orphans
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    ), v2 AS (
      SELECT count(*) AS n_child,
             count(*) FILTER (WHERE s_suppkey IS NULL) AS n_orphans
      FROM lineitem LEFT JOIN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal > 0
      ) s ON l_suppkey = s_suppkey
    ), v3 AS (
      SELECT count(*) AS n_child,
             count(*) FILTER (WHERE p_partkey IS NULL) AS n_orphans
      FROM lineitem LEFT JOIN (
        SELECT p_partkey FROM part WHERE p_size < 40
      ) p ON l_partkey = p_partkey
    )
    SELECT rel, CAST(n_child AS BIGINT) AS n_child,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           round(CAST(n_orphans AS DOUBLE) / n_child, 6) AS orphan_rate
    FROM (
      SELECT 'orders->customer' AS rel, * FROM v1
      UNION ALL SELECT 'lineitem->supplier(acctbal>0)', * FROM v2
      UNION ALL SELECT 'lineitem->part(size<40)', * FROM v3
    )
    """,
)
def dq_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — orphan counts and rates for three
    FK relationships, two of them against RESTRICTED dimension views so
    the report exercises real violations (`dq_checks` validates
    row-local predicates; this validates CROSS-TABLE consistency, the
    check that catches a bad partition of a dimension load before it
    poisons every downstream join).

    Each relation is one left join probing the dimension's key with a
    conditional count — Catalyst broadcasts the small dimension side,
    so the audit costs one map-side pass per child table; the three
    one-row results union metadata-side. At 100 TB the same plan holds:
    dimensions broadcast, fact tables stream."""
    o = table(spark, sf_dir, "orders").select("o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    c = table(spark, sf_dir, "customer").select("c_custkey")
    s = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 0)
        .select("s_suppkey")
    )
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size") < 40)
        .select("p_partkey")
    )

    def audit(child, ckey, dim, dkey, rel):
        return (
            child.join(dim, child[ckey] == dim[dkey], "left")
            .agg(
                F.count(F.lit(1)).alias("n_child"),
                F.count_if(dim[dkey].isNull()).alias("n_orphans"),
            )
            .select(
                F.lit(rel).alias("rel"),
                F.col("n_child").cast("long"),
                F.col("n_orphans").cast("long"),
                F.round(
                    F.col("n_orphans").cast("double") / F.col("n_child"), 6
                ).alias("orphan_rate"),
            )
        )

    return (
        audit(o, "o_custkey", c, "c_custkey", "orders->customer")
        .unionAll(
            audit(li, "l_suppkey", s, "s_suppkey",
                  "lineitem->supplier(acctbal>0)")
        )
        .unionAll(
            audit(li, "l_partkey", p, "p_partkey", "lineitem->part(size<40)")
        )
    )


@query(
    "etl_fifo_allocate",
    """
    WITH o AS (
      SELECT c_custkey,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS budget,
             o_orderkey, o_orderdate,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY c_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM customer JOIN orders ON c_custkey = o_custkey
      WHERE c_acctbal > 0
    )
    SELECT o_orderkey, c_custkey,
           CASE WHEN cum <= budget THEN 'full'
                WHEN cum - price < budget THEN 'partial'
                ELSE 'none' END AS status,
           round(CAST(greatest(least(budget - (cum - price), price), 0)
                      AS DOUBLE) / 100, 2) AS allocated
    FROM o
    """,
)
def etl_fifo_allocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO allocation — spread each customer's account balance across
    their orders oldest-first, splitting at the order where the budget
    runs out (the matching kernel of AR reconciliation, inventory
    costing, and quota spend: 'consume a bounded resource in arrival
    order'). One running sum per customer gives each order's interval
    [cum−price, cum); clamping the budget into that interval yields
    full / partial / none with the partial amount — no loop, no
    recursion, one window.

    Exact: balances and prices quantized to integer cents before the
    running sum, so the clamp arithmetic is pure int64; the only double
    is the final cents→dollars display division. Deterministic under
    ties via the (date, orderkey) total order.

    Scale shape: one shuffle on the customer key (broadcast dim join
    attaches the budget); per-customer partitions are bounded by a
    customer's own order history."""
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
            .cast("long")
            .alias("budget"),
        )
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price"),
    )
    w = (
        Window.partitionBy("c_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = o.join(c, F.col("o_custkey") == F.col("c_custkey")).withColumn(
        "cum", F.sum("price").over(w)
    )
    rem = F.col("budget") - (F.col("cum") - F.col("price"))
    return j.select(
        "o_orderkey",
        "c_custkey",
        F.when(F.col("cum") <= F.col("budget"), "full")
        .when(F.col("cum") - F.col("price") < F.col("budget"), "partial")
        .otherwise("none")
        .alias("status"),
        F.round(
            F.greatest(F.least(rem, F.col("price")), F.lit(0)).cast("double")
            / 100,
            2,
        ).alias("allocated"),
    )


@query(
    "dq_table_checksum",
    """
    WITH n AS (
      SELECT CAST(concat('0x', substr(md5(
                 concat_ws('|', CAST(n_nationkey AS VARCHAR), n_name,
                           CAST(n_regionkey AS VARCHAR))), 1, 12))
               AS BIGINT) AS ch
      FROM nation
    ), s AS (
      SELECT CAST(concat('0x', substr(md5(
                 concat_ws('|', CAST(s_suppkey AS VARCHAR), s_name,
                           CAST(s_nationkey AS VARCHAR),
                           CAST(CAST(floor(s_acctbal * 100 + 0.5)
                                     AS BIGINT) AS VARCHAR))), 1, 12))
               AS BIGINT) AS ch
      FROM supplier
    ), c AS (
      SELECT CAST(concat('0x', substr(md5(
                 concat_ws('|', CAST(c_custkey AS VARCHAR), c_name,
                           CAST(c_nationkey AS VARCHAR), c_mktsegment,
                           CAST(CAST(floor(c_acctbal * 100 + 0.5)
                                     AS BIGINT) AS VARCHAR))), 1, 12))
               AS BIGINT) AS ch
      FROM customer
    )
    SELECT tbl, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(ck_hi AS BIGINT) AS checksum_hi,
           CAST(ck_mid AS BIGINT) AS checksum_mid,
           CAST(ck_lo AS BIGINT) AS checksum_lo
    FROM (
      SELECT 'nation' AS tbl, count(*) AS n_rows,
             sum(ch // 4294967296) AS ck_hi,
             sum((ch // 65536) % 65536) AS ck_mid,
             sum(ch % 65536) AS ck_lo FROM n
      UNION ALL
      SELECT 'supplier', count(*),
             sum(ch // 4294967296), sum((ch // 65536) % 65536),
             sum(ch % 65536) FROM s
      UNION ALL
      SELECT 'customer', count(*),
             sum(ch // 4294967296), sum((ch // 65536) % 65536),
             sum(ch % 65536) FROM c
    )
    """,
)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table content checksum — THE reconciliation
    primitive for migrations and replication at 100 TB: hash each row
    canonically, SUM the hashes (commutative ⇒ no sort, no shuffle
    order sensitivity), compare one digest per table between source and
    target. A row changed/lost/duplicated anywhere moves the digest;
    partitioning, file order, and engine are all invisible to it. This
    op digests three tables; the oracle recomputes the identical digest
    in DuckDB, so the hash match IS a cross-engine reconciliation.

    Canonical row form: '|'-joined key fields with money quantized to
    integer cents and NULLs impossible by schema — float formatting
    never reaches the hash. Digest = 48-bit prefix of md5 per row,
    split into three 16-bit limbs summed INDEPENDENTLY (hi/mid/lo).
    The limb split is the round-9 protocol fix for the r08 driver red:
    a single 48-bit-hash sum exceeds 2^53 past ~32 rows, and an
    integer-valued numeric beyond 2^53 does not survive a float64
    round-trip in a canonicalizing comparator — the op was correct
    cross-engine but outside the comparison protocol's value-exact
    domain. Each limb sum stays below 2^53 up to 2^37 (~137 billion)
    rows per table — comfortably 100 TB scale — while the limb triple
    carries exactly the information of the single sum
    (ck = hi*2^32 + mid*2^16 + lo). Plain 64-bit integer arithmetic on
    both engines; map-side-combinable single aggregate per table."""
    def digest(df, cols):
        canon = F.concat_ws("|", *cols)
        h = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("long")
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.shiftright(h, 32)).alias("checksum_hi"),
            F.sum(F.shiftright(h, 16).bitwiseAND(F.lit(65535))).alias("checksum_mid"),
            F.sum(h.bitwiseAND(F.lit(65535))).alias("checksum_lo"),
        )

    cents = lambda c: F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long").cast("string")  # noqa: E731
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    limbs = ["checksum_hi", "checksum_mid", "checksum_lo"]
    outs = [
        digest(n, [F.col("n_nationkey").cast("string"), F.col("n_name"),
                   F.col("n_regionkey").cast("string")])
        .select(F.lit("nation").alias("tbl"), "n_rows", *limbs),
        digest(s, [F.col("s_suppkey").cast("string"), F.col("s_name"),
                   F.col("s_nationkey").cast("string"), cents("s_acctbal")])
        .select(F.lit("supplier").alias("tbl"), "n_rows", *limbs),
        digest(c, [F.col("c_custkey").cast("string"), F.col("c_name"),
                   F.col("c_nationkey").cast("string"),
                   F.col("c_mktsegment"), cents("c_acctbal")])
        .select(F.lit("customer").alias("tbl"), "n_rows", *limbs),
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.select(
        "tbl", F.col("n_rows").cast("long").alias("n_rows"), *limbs
    )


@query(
    "etl_pseudonymize_keys",
    """
    WITH c AS (
      SELECT substr(md5('pepper-' || CAST(c_custkey AS VARCHAR)), 1, 16)
               AS ckey, c_mktsegment
      FROM customer
    ), o AS (
      SELECT substr(md5('pepper-' || CAST(o_custkey AS VARCHAR)), 1, 16)
               AS ckey, o_totalprice
      FROM orders
    )
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT c.ckey) AS BIGINT) AS n_customers,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS revenue
    FROM o JOIN c USING (ckey)
    GROUP BY 1
    """,
)
def etl_pseudonymize_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity-preserving pseudonymization: replace the
    customer key in BOTH tables with a peppered keyed hash, then prove
    analytics still work by joining and aggregating ON THE TOKENS —
    the data-sharing pattern GDPR-style pipelines need (the raw key
    never leaves; the same key always maps to the same token, so joins
    and distinct-counts survive; without the pepper the tokens would be
    a trivially reversible dictionary over a small key space).
    `pii_redact` destroys values, `etl_k_anonymize` suppresses groups;
    this keeps the RELATIONAL STRUCTURE intact under de-identification.
    The per-segment revenue/customer counts must hash-match the oracle
    running the identical tokenization — one broadcast-joined aggregate
    whose plan is unchanged from the cleartext equivalent (tokenization
    is map-side codegen md5)."""
    tok = lambda c: F.substring(  # noqa: E731
        F.md5(F.concat(F.lit("pepper-"), c.cast("string"))), 1, 16
    )
    c = table(spark, sf_dir, "customer").select(
        tok(F.col("c_custkey")).alias("ckey"), "c_mktsegment"
    )
    o = table(spark, sf_dir, "orders").select(
        tok(F.col("o_custkey")).alias("ckey"), "o_totalprice"
    )
    return (
        o.join(c, "ckey")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("ckey").alias("n_customers"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
        )
    )


@query(
    "dq_temporal_consistency",
    """
    WITH j AS (
      SELECT date_diff('day', o_orderdate, l_shipdate) AS lag
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_facts,
           CAST(count(*) FILTER (WHERE lag < 0) AS BIGINT)
             AS ship_before_order,
           CAST(min(lag) AS BIGINT) AS min_lag_days,
           CAST(max(lag) AS BIGINT) AS max_lag_days,
           round(avg(CAST(lag AS DOUBLE)), 4) AS avg_lag_days
    FROM j
    """,
)
def dq_temporal_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table temporal-consistency audit: a lineitem must not ship
    before its order was placed — the class of invariant `dq_checks`'
    single-table rules cannot see (it lives ACROSS the join), and the
    first thing a corrupted backfill breaks. Reports the violation
    count plus the ship-lag envelope (min/max/avg days), which doubles
    as the freshness profile capacity planning reads. One equi-join
    (orders' two columns broadcast when small, shuffled otherwise) and
    one aggregate; integer day arithmetic, avg rounded."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(lag.alias("lag"))
        .agg(
            F.count(F.lit(1)).alias("n_facts"),
            F.count_if(F.col("lag") < 0).alias("ship_before_order"),
            F.min("lag").cast("long").alias("min_lag_days"),
            F.max("lag").cast("long").alias("max_lag_days"),
            F.round(F.avg(F.col("lag").cast("double")), 4).alias(
                "avg_lag_days"
            ),
        )
    )


@query(
    "dq_penny_reconcile",
    """
    WITH lines AS (
      SELECT l_returnflag AS grp,
             CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(8,2)))
                        * (1 + CAST(l_tax AS DECIMAL(8,2)))
                        * 100 + 0.5) AS BIGINT) AS rounded_cents,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(8,2)))
               * (1 + CAST(l_tax AS DECIMAL(8,2))) AS exact_charge
      FROM lineitem
    )
    SELECT grp, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(rounded_cents) AS BIGINT) AS sum_of_rounded_cents,
           CAST(floor(sum(exact_charge) * 100 + 0.5) AS BIGINT)
             AS rounded_sum_cents,
           CAST(sum(rounded_cents)
                - CAST(floor(sum(exact_charge) * 100 + 0.5) AS BIGINT)
                AS BIGINT) AS penny_drift_cents
    FROM lines GROUP BY grp
    """,
)
def dq_penny_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Penny reconciliation — Σ(round(line)) vs round(Σ(exact)): the
    finance-pipeline audit that catches where per-line rounding policy
    and ledger-total policy disagree (they legally CAN'T silently
    differ; invoices round per line, the GL rounds the sum, and the
    drift must be known and booked). The charge
    price·(1−discount)·(1+tax) is computed in EXACT DECIMAL
    arithmetic; per-line round-half-up to cents sums against the
    rounded exact total per return-flag group, and the drift is
    reported in integer cents. Pure decimal/integer math on both
    engines — one scan, one combiner-friendly aggregate."""
    li = table(spark, sf_dir, "lineitem")
    exact = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(8,2)"))
        * (F.lit(1) + F.col("l_tax").cast("decimal(8,2)"))
    )
    rounded = F.floor(exact * 100 + F.lit(0.5)).cast("long")
    g = li.select(
        F.col("l_returnflag").alias("grp"),
        rounded.alias("rc"),
        exact.alias("ex"),
    ).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("rc").alias("src"),
        F.floor(F.sum("ex") * 100 + F.lit(0.5)).cast("long").alias("rsc"),
    )
    return g.select(
        "grp",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("src").cast("long").alias("sum_of_rounded_cents"),
        F.col("rsc").alias("rounded_sum_cents"),
        (F.col("src") - F.col("rsc")).cast("long").alias("penny_drift_cents"),
    )


@query(
    "etl_feature_standardize",
    """
    WITH stats AS (
      SELECT c_nationkey AS nk, count(*) AS n,
             sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS s,
             sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                 * CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS q
      FROM customer GROUP BY 1
    )
    SELECT c_custkey,
           CAST(c_nationkey AS BIGINT) AS c_nationkey,
           round((CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                  - CAST(s AS DOUBLE) / n)
                 / sqrt((CAST(q AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                        / (n - 1)), 6) AS acctbal_z
    FROM customer JOIN stats ON c_nationkey = nk
    """,
)
def etl_feature_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature standardization (z-score within nation) — the
    preprocessing step every distance-based model needs, in the only
    shape that scales: group sufficient statistics (n, Σx, Σx²) from
    ONE aggregate, broadcast back, z computed map-side — never a
    per-group collect or a second scan per feature. Exact integer-cent
    sums; mean/sd/z are one shared double expression per row, rounded
    6. The (aggregate → broadcast join → map) plan is the template for
    standardizing ANY number of features in one pass (one struct per
    feature)."""
    c = table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    stats = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("q"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("q").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        )
        / (nd - 1)
    )
    return (
        c.join(F.broadcast(stats), c["c_nationkey"] == F.col("nk"))
        .select(
            "c_custkey",
            F.col("c_nationkey").cast("long").alias("c_nationkey"),
            F.round((cents - mean) / sd, 6).alias("acctbal_z"),
        )
    )


@query(
    "interval_allen_relations",
    """
    WITH iv AS (
      SELECT o_custkey AS k, o_orderkey,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 30 AS e
      FROM orders
    ), seq AS (
      SELECT k, s, e,
             lag(s) OVER (PARTITION BY k ORDER BY s, e, o_orderkey) AS ps,
             lag(e) OVER (PARTITION BY k ORDER BY s, e, o_orderkey) AS pe
      FROM iv
    ), rel AS (
      SELECT CASE
               WHEN ps IS NULL THEN NULL
               WHEN pe < s THEN 'before'
               WHEN pe = s THEN 'meets'
               WHEN ps = s AND pe = e THEN 'equal'
               WHEN ps = s AND e > pe THEN 'starts'
               WHEN s > ps AND e < pe THEN 'during'
               WHEN s > ps AND e = pe THEN 'finishes'
               WHEN s > ps AND s < pe AND e > pe THEN 'overlaps'
               ELSE 'contains'
             END AS relation
      FROM seq
    )
    SELECT relation, CAST(count(*) AS BIGINT) AS n_pairs
    FROM rel WHERE relation IS NOT NULL
    GROUP BY relation
    """,
)
def interval_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra over consecutive activity windows — each
    order opens a 30-day window; for every consecutive pair within a
    customer (ordered by start), classify the temporal relation
    (before / meets / overlaps / starts / during / finishes / equal /
    contains) and count the census. Allen's 13 relations are the
    vocabulary of temporal reasoning (overlap-billing detection,
    contract-continuity audits, care-episode analysis); restricted to
    consecutive pairs in start order, the census costs ONE lag window
    instead of an O(n²) interval self-join, and start-order ≥
    guarantees make the inverse relations unreachable — which is why
    eight cases suffice.

    Exact: pure date arithmetic and a CASE ladder, identical both
    engines; ties in (start, end) are ordered by the unique order key,
    so lag pairs are engine-deterministic."""
    o = table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("k"),
        "o_orderkey",
        F.col("o_orderdate").alias("s"),
        F.date_add(F.col("o_orderdate"), 30).alias("e"),
    )
    w = Window.partitionBy("k").orderBy("s", "e", "o_orderkey")
    seq = iv.select(
        "k",
        "s",
        "e",
        F.lag("s").over(w).alias("ps"),
        F.lag("e").over(w).alias("pe"),
    )
    rel = seq.select(
        F.when(F.col("ps").isNull(), None)
        .when(F.col("pe") < F.col("s"), "before")
        .when(F.col("pe") == F.col("s"), "meets")
        .when(
            (F.col("ps") == F.col("s")) & (F.col("pe") == F.col("e")), "equal"
        )
        .when(
            (F.col("ps") == F.col("s")) & (F.col("e") > F.col("pe")), "starts"
        )
        .when(
            (F.col("s") > F.col("ps")) & (F.col("e") < F.col("pe")), "during"
        )
        .when(
            (F.col("s") > F.col("ps")) & (F.col("e") == F.col("pe")),
            "finishes",
        )
        .when(
            (F.col("s") > F.col("ps"))
            & (F.col("s") < F.col("pe"))
            & (F.col("e") > F.col("pe")),
            "overlaps",
        )
        .otherwise("contains")
        .alias("relation")
    )
    return (
        rel.filter(F.col("relation").isNotNull())
        .groupBy("relation")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_RESERVOIR_K = 5  #: rows kept per group


@query(
    "sample_reservoir",
    f"""
    SELECT o_orderpriority, o_orderkey, o_custkey
    FROM (
      SELECT o_orderpriority, o_orderkey, o_custkey,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
             ) AS rn
      FROM orders
    )
    WHERE rn <= {_RESERVOIR_K}
    """,
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group reservoir sample of k=5 orders per priority class —
    expressed as the distributed equivalent of reservoir sampling:
    top-k by a uniform random key. A driver-side reservoir is
    inherently sequential; ranking by a per-row hash gives the
    identical uniform-without-replacement distribution and
    parallelizes perfectly. The key is md5 of the row id, so the
    sample is deterministic and byte-identical across engines (both
    produce lowercase-hex md5 of the same decimal string) — unlike
    `sample_frac`/`sample_stratified`, which are RNG-seeded and
    rows-only.

    Scale shape: Spark 4 rewrites the rank-filter to WindowGroupLimit —
    each map task keeps a k-row heap per group BEFORE the shuffle, so
    the exchange carries ~k·groups·tasks rows, not the table; no full
    per-group sort materializes. That is exactly the reservoir-merge
    topology (partial reservoirs → merge) that makes this the 100 TB
    sampling pattern."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority", "o_orderkey", "o_custkey",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= _RESERVOIR_K)
        .drop("rn")
    )


@query(
    "etl_bitemporal",
    """
    WITH v0 AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             o_orderdate AS recorded_at
      FROM orders
    ), corr AS (
      SELECT k, status,
             CAST(price + 100 AS DECIMAL(18,2)) AS price,
             recorded_at + INTERVAL 10 DAY AS recorded_at
      FROM v0 WHERE k % 7 = 0
    ), versions AS (
      SELECT * FROM v0 UNION ALL SELECT * FROM corr
    ), axes AS (
      SELECT unnest(ARRAY[TIMESTAMP '1998-01-01', TIMESTAMP '2002-01-01'])
             AS as_of
    ), believed AS (
      SELECT a.as_of, v.k, v.status,
             max_by(v.price, v.recorded_at) AS price
      FROM versions v JOIN axes a ON v.recorded_at <= a.as_of
      GROUP BY a.as_of, v.k, v.status
    )
    SELECT as_of, status, CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(price) AS DOUBLE), 2) AS believed_total
    FROM believed GROUP BY as_of, status
    """,
)
def etl_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal reconstruction — "what did we BELIEVE on date T?" —
    the second time axis `etl_scd2` doesn't have: every order is
    recorded on its order date, every 7th gets a +100 price correction
    recorded 10 days later, and the query rebuilds the believed state
    per order at two transaction-time cutoffs (mid-history and post-history). An as-of on RECORD time
    (audit, restatement, ML training-set reproduction: "train only on
    what was known then") rather than on validity time.

    Shape: versions ⋈ as-of axis (a 2-row broadcast), then
    ``max_by(price, recorded_at)`` per (as_of, key) — latest-belief
    selection as a single mergeable aggregate, no window sort. One
    shuffle on (as_of, k); version fan-in per key is bounded (≤2 here,
    single digits in any real ledger), so partial aggregation collapses
    it map-side. Decimal prices keep both engines hash-identical."""
    o = table(spark, sf_dir, "orders")
    v0 = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.col("o_orderdate").alias("recorded_at"),
    )
    corr = v0.filter(F.col("k") % 7 == 0).select(
        "k", "status",
        (F.col("price") + 100).cast("decimal(18,2)").alias("price"),
        (F.col("recorded_at") + F.expr("INTERVAL 10 DAY")).alias("recorded_at"),
    )
    versions = v0.unionByName(corr)
    axes = spark.sql(
        "SELECT explode(array(TIMESTAMP '1998-01-01',"
        " TIMESTAMP '2002-01-01')) AS as_of"
    )
    believed = (
        versions.join(axes, F.col("recorded_at") <= F.col("as_of"))
        .groupBy("as_of", "k", "status")
        .agg(F.max_by("price", "recorded_at").alias("price"))
    )
    return believed.groupBy("as_of", "status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("price").cast("double"), 2).alias("believed_total"),
    )


_FRESH_SLA_SEC = 1800  #: staleness SLA (30 min)


@query(
    "dq_freshness",
    f"""
    WITH per AS (
      SELECT event_type, max(ts) AS last_ts, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ), g AS (SELECT max(ts) AS gmax FROM events)
    SELECT event_type, last_ts, n,
           CAST((epoch_us(gmax) - epoch_us(last_ts)) // 1000000
                AS BIGINT) AS lag_sec,
           (epoch_us(gmax) - epoch_us(last_ts)) // 1000000
             > {_FRESH_SLA_SEC} AS stale
    FROM per CROSS JOIN g
    """,
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-freshness audit — per event type: latest event, row count,
    staleness lag behind the newest event anywhere, and an SLA breach
    flag (30 min). The first check every ingestion dashboard runs: a
    source whose max(ts) stopped advancing is silently dead long before
    volume alarms notice.

    Shape: one partial-aggregating pass for the per-type maxima, one
    single-row global aggregate broadcast back over them (Spark plans
    the 1×K cross join as BroadcastNestedLoopJoin — K rows, metadata
    cost). Lag is computed in integer epoch-microseconds on both
    engines; no timestamp-difference builtin is used because Spark's
    `timestampdiff` counts complete units while DuckDB's `date_diff`
    counts boundary crossings — the epoch arithmetic sidesteps that
    semantic trap exactly."""
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("n")
    )
    g = ev.agg(F.max("ts").alias("gmax"))
    lag = (
        (F.unix_micros(F.col("gmax")) - F.unix_micros(F.col("last_ts")))
        / F.lit(1000000)
    ).cast("long")
    return per.crossJoin(F.broadcast(g)).select(
        "event_type", "last_ts", "n",
        lag.alias("lag_sec"),
        (lag > _FRESH_SLA_SEC).alias("stale"),
    )


@query(
    "etl_late_arriving_dim",
    """
    WITH present AS (
      SELECT * FROM customer WHERE c_custkey % 13 <> 0
    ), phase1 AS (
      SELECT o.o_orderkey, o.o_custkey,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS price,
             p.c_nationkey AS nk1
      FROM orders o LEFT JOIN present p ON o.o_custkey = p.c_custkey
    )
    SELECT c.c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (WHERE ph.nk1 IS NULL) AS BIGINT)
             AS n_late_attributed,
           round(CAST(sum(ph.price) AS DOUBLE), 2) AS total
    FROM phase1 ph JOIN customer c ON ph.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def etl_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling (Kimball's inferred-member
    pattern): facts load while every 13th customer's dimension row has
    not arrived yet — phase 1 attributes them to an UNKNOWN member
    instead of dropping or stalling the load; phase 2 re-attributes once
    the full dimension lands, reporting per nation how many orders
    transited through UNKNOWN. The alternative designs both fail at
    scale: dropping unmatched facts loses revenue silently, and stalling
    the load turns one late dim row into an SLA breach for the whole
    pipeline.

    Shape: two equi-joins against the dimension (AQE broadcasts it when
    small, shuffles otherwise) + one aggregate; the UNKNOWN transit flag
    is just the phase-1 join's null-ness carried forward — no second
    scan of the facts."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    present = c.filter(F.col("c_custkey") % 13 != 0)
    phase1 = o.join(
        present, o["o_custkey"] == present["c_custkey"], "left"
    ).select("o_orderkey", "o_custkey", "price",
             F.col("c_nationkey").alias("nk1"))
    return (
        phase1.join(c, phase1["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(F.col("nk1").isNull()).alias("n_late_attributed"),
            F.round(F.sum("price").cast("double"), 2).alias("total"),
        )
    )


@query(
    "interval_point_stab",
    """
    WITH probes AS (
      SELECT unnest(ARRAY[TIMESTAMP '1996-03-15', TIMESTAMP '1997-06-15',
                          TIMESTAMP '1998-09-15', TIMESTAMP '1999-12-15'])
             AS probe
    )
    SELECT probe,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders JOIN probes
      ON probe >= o_orderdate
     AND probe < o_orderdate + INTERVAL 30 DAY
    GROUP BY probe
    """,
)
def interval_point_stab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-stab census: how many 30-day order-activity windows cover
    each probe instant, and how many distinct customers — the "what was
    live at time T" question (active sessions at an incident timestamp,
    policies in force at audit dates). `interval_concurrency` tracks
    the maximum over all time; this answers specific instants without
    building the full event timeline.

    Shape: the probe axis is a 4-row broadcast; the containment
    predicate filters fact rows in the scan pipeline (predicate on the
    probed fact columns — no shuffle until the tiny per-probe
    aggregate). Stabbing N probes costs one fact pass regardless of
    N."""
    o = table(spark, sf_dir, "orders")
    probes = spark.sql(
        "SELECT explode(array(TIMESTAMP '1996-03-15',"
        " TIMESTAMP '1997-06-15', TIMESTAMP '1998-09-15',"
        " TIMESTAMP '1999-12-15')) AS probe"
    )
    return (
        o.join(
            F.broadcast(probes),
            (F.col("probe") >= F.col("o_orderdate"))
            & (F.col("probe")
               < F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")),
        )
        .groupBy("probe")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


@query(
    "etl_scd3",
    """
    WITH changed AS (
      SELECT c_custkey, c_mktsegment,
             c_custkey % 7 = 0 AS moves
      FROM customer
    )
    SELECT c_custkey,
           CASE WHEN moves THEN 'MACHINERY' ELSE c_mktsegment END
             AS segment_current,
           CASE WHEN moves AND c_mktsegment <> 'MACHINERY'
                THEN c_mktsegment END AS segment_prior,
           CASE WHEN moves AND c_mktsegment <> 'MACHINERY'
                THEN TIMESTAMP '1997-06-01' END AS changed_at
    FROM changed
    """,
)
def etl_scd3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing dimension TYPE 3 — previous value kept in a
    sibling column instead of a history row: every 7th customer moves
    to the MACHINERY segment, the dimension keeps (current, prior,
    changed_at), a no-op move (already MACHINERY) records no prior.
    Completes the SCD coverage beside `etl_scd2` (full row history) and
    `etl_scd2_lookup`: type 3 is what you pick when ONLY the
    immediately-prior value matters and fact joins must stay 1:1 (no
    validity-interval lookup at read time — the trade is one level of
    history for a join that never fans out).

    Shape: map-only over the dimension — no shuffle, no window; the
    update itself would be a txn-table MERGE in production (the
    machinery `table_merge_upsert` pins)."""
    c = table(spark, sf_dir, "customer")
    moves = F.col("c_custkey") % 7 == 0
    real_change = moves & (F.col("c_mktsegment") != "MACHINERY")
    return c.select(
        "c_custkey",
        F.when(moves, "MACHINERY").otherwise(F.col("c_mktsegment"))
        .alias("segment_current"),
        F.when(real_change, F.col("c_mktsegment")).alias("segment_prior"),
        F.when(real_change, F.lit("1997-06-01").cast("timestamp"))
        .alias("changed_at"),
    )


@query(
    "sample_balanced_classes",
    """
    WITH sized AS (
      SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1
    ), k AS (SELECT min(n) AS k FROM sized)
    SELECT o_orderpriority, o_orderkey
    FROM (
      SELECT o_orderpriority, o_orderkey,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
             ) AS rn
      FROM orders
    ) CROSS JOIN k
    WHERE rn <= k
    """,
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every priority class reduced to the
    MINORITY class's size by deterministic hash-rank — the standard fix
    for imbalanced training data, done without RNG so the sample is
    reproducible and engine-exact. `sample_reservoir` keeps a FIXED k
    per group; this derives k from the data (min class count, one
    metadata-size aggregate broadcast back).

    Shape: one rank window per class (WindowGroupLimit keeps per-task
    heaps bounded by the running k-threshold only after the filter —
    the rank itself streams) + a 1-row broadcast of k. At heavy
    imbalance the discarded majority never shuffles its payload columns:
    only the rank key does."""
    o = table(spark, sf_dir, "orders")
    k = (
        o.groupBy("o_orderpriority")
        .count()
        .agg(F.min("count").alias("k"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"
    )
    return (
        o.select(
            "o_orderpriority", "o_orderkey",
            F.row_number().over(w).alias("rn"),
        )
        .crossJoin(F.broadcast(k))
        .filter(F.col("rn") <= F.col("k"))
        .select("o_orderpriority", "o_orderkey")
    )


@query(
    "dq_tukey_outliers",
    """
    WITH ranked AS (
      SELECT l_returnflag AS grp,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ), q AS (
      SELECT grp,
             max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                 THEN p END) AS q1,
             max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                 THEN p END) AS q3
      FROM ranked GROUP BY grp
    ), fences AS (
      SELECT grp, q1, q3,
             q1 - 1.5 * (q3 - q1) AS lo,
             q3 + 1.5 * (q3 - q1) AS hi
      FROM q
    )
    SELECT r.grp, CAST(max(r.n) AS BIGINT) AS n_rows,
           round(CAST(max(f.q1) AS DOUBLE), 2) AS q1,
           round(CAST(max(f.q3) AS DOUBLE), 2) AS q3,
           CAST(count(*) FILTER (WHERE r.p < f.lo OR r.p > f.hi)
                AS BIGINT) AS n_outliers
    FROM ranked r JOIN fences f ON r.grp = f.grp
    GROUP BY r.grp
    """,
)
def dq_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit per return-flag group: Q1/Q3 as
    nearest-rank (type-1) quantiles, fences at ±1.5·IQR, outliers
    counted where they live. The box-plot rule — the default screen for
    "are these prices even plausible" before any model sees them.

    Exactness: nearest-rank quantiles are DATA VALUES (2dp decimals),
    so fences q1 − 1.5·iqr are exact decimals too — the containment
    comparison is decimal-vs-decimal, no interpolated float anywhere
    (interpolating quantiles differ at the ULP between engines; the
    rank-based definition sidesteps the whole class).

    Scale shape: one shuffle on the group key serves the rank window,
    the quantile pick, and the outlier count (fences re-attach by
    broadcast — the per-group frame is 1 row each). The rank window is
    the exact-quantile cost; `agg_percentile_approx` is the documented
    sketch alternative when groups are huge."""
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("p"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("l_returnflag"))
        .alias("n"),
    )
    q = ranked.groupBy("grp").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.25 * F.col("n")).cast("long"),
                F.col("p"),
            )
        ).alias("q1"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.75 * F.col("n")).cast("long"),
                F.col("p"),
            )
        ).alias("q3"),
    )
    fences = q.select(
        "grp", "q1", "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        ranked.join(F.broadcast(fences), "grp")
        .groupBy("grp")
        .agg(
            F.max("n").cast("long").alias("n_rows"),
            F.round(F.max("q1").cast("double"), 2).alias("q1"),
            F.round(F.max("q3").cast("double"), 2).alias("q3"),
            F.count_if(
                (F.col("p") < F.col("lo")) | (F.col("p") > F.col("hi"))
            ).alias("n_outliers"),
        )
    )


@query(
    "etl_scd2_snapshot",
    """
    WITH w AS (
      SELECT o_custkey, o_orderdate, o_orderpriority,
             CASE WHEN lag(o_orderpriority) OVER wo IS NULL
                    OR lag(o_orderpriority) OVER wo <> o_orderpriority
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      WINDOW wo AS (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey)
    ), runs AS (
      SELECT o_custkey, o_orderdate, o_orderpriority,
             sum(chg) OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS version
      FROM w
    ), versions AS (
      SELECT o_custkey, o_orderpriority AS state, version,
             min(o_orderdate) AS valid_from
      FROM runs GROUP BY o_custkey, o_orderpriority, version
    ), intervals AS (
      SELECT o_custkey, state, valid_from,
             lead(valid_from) OVER (PARTITION BY o_custkey
                                    ORDER BY valid_from, version)
               AS valid_to_excl
      FROM versions
    ), snaps AS (
      SELECT unnest(ARRAY[TIMESTAMP '1996-01-01', TIMESTAMP '1997-01-01',
                          TIMESTAMP '1998-01-01', TIMESTAMP '1999-01-01'])
             AS snap
    )
    SELECT s.snap, i.state, CAST(count(*) AS BIGINT) AS n_active
    FROM intervals i JOIN snaps s
      ON i.valid_from <= s.snap
     AND (i.valid_to_excl IS NULL OR i.valid_to_excl > s.snap)
    GROUP BY s.snap, i.state
    """,
)
def etl_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 → point-in-time snapshots: reconstruct "the dimension as of
    date D" for four yearly snapshot dates from the versioned history
    (same gaps-and-islands build as `etl_scd2`, but with HALF-OPEN
    [valid_from, next_valid_from) intervals so exactly ONE version per
    key is active at any instant — the invariant the unit test pins,
    and the property the closed intervals of observation-based SCD2
    cannot give). This is the nightly "snapshot fact" materialization
    pattern: auditors ask for states-as-of, not histories.

    Shape: the history build shares one shuffle+sort on the key across
    its windows; snapshots attach as a 4-row broadcast band join; the
    final count is a partial aggregate."""
    o = table(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderpriority").over(wo)
    marked = o.select(
        "o_custkey", "o_orderdate", "o_orderpriority",
        F.when(prev.isNull() | (prev != F.col("o_orderpriority")), 1)
        .otherwise(0).alias("chg"),
    )
    runs = marked.select(
        "o_custkey", "o_orderdate", "o_orderpriority",
        F.sum("chg").over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("version"),
    )
    versions = runs.groupBy(
        "o_custkey", F.col("o_orderpriority").alias("state"), "version"
    ).agg(F.min("o_orderdate").alias("valid_from"))
    wv = Window.partitionBy("o_custkey").orderBy("valid_from", "version")
    intervals = versions.select(
        "o_custkey", "state", "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to_excl"),
    )
    snaps = spark.sql(
        "SELECT explode(array(TIMESTAMP '1996-01-01',"
        " TIMESTAMP '1997-01-01', TIMESTAMP '1998-01-01',"
        " TIMESTAMP '1999-01-01')) AS snap"
    )
    return (
        intervals.join(
            F.broadcast(snaps),
            (F.col("valid_from") <= F.col("snap"))
            & (
                F.col("valid_to_excl").isNull()
                | (F.col("valid_to_excl") > F.col("snap"))
            ),
        )
        .groupBy("snap", "state")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "etl_currency_normalize",
    """
    WITH rated AS (
      SELECT o_orderkey,
             o_custkey % 3 AS currency,
             CAST(o_totalprice AS DECIMAL(18,2)) AS amount,
             CAST(1.0 + (o_custkey % 3) * 0.1
                  + (12 * (year(o_orderdate) - 1995)
                     + month(o_orderdate) - 1) * 0.01
                  AS DECIMAL(8,4)) AS rate
      FROM orders
    )
    SELECT CAST(currency AS BIGINT) AS currency,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(amount) AS DOUBLE), 2) AS local_total,
           round(CAST(sum(CAST(amount * rate AS DECIMAL(28,6)))
                      AS DOUBLE), 2) AS base_total
    FROM rated GROUP BY currency
    """,
)
def etl_currency_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Currency normalization at calendar grain: every order carries a
    synthetic currency (key mod 3) and converts to base currency with
    that currency's MONTHLY rate — the multi-entity consolidation step
    of every finance warehouse. Monthly rates make the temporal lookup
    an EQUI join on (currency, month) — the deliberate design lesson:
    snap rates to the fact's calendar grain and the as-of join
    disappears (cf. `join_asof` for irregular rate ticks).

    Here the rate table is a closed formula, so Catalyst folds the
    "join" into codegen arithmetic entirely — the degenerate ideal of
    the pattern; amounts × DECIMAL(8,4) rates accumulate exactly."""
    o = table(spark, sf_dir, "orders")
    amount = F.col("o_totalprice").cast("decimal(18,2)")
    month_idx = (
        12 * (F.year("o_orderdate") - 1995) + F.month("o_orderdate") - 1
    )
    rate = (
        1.0 + (F.col("o_custkey") % 3) * 0.1 + month_idx * 0.01
    ).cast("decimal(8,4)")
    rated = o.select(
        (F.col("o_custkey") % 3).cast("long").alias("currency"),
        amount.alias("amount"),
        rate.alias("rate"),
    )
    return rated.groupBy("currency").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("amount").cast("double"), 2).alias("local_total"),
        F.round(
            F.sum((F.col("amount") * F.col("rate")).cast("decimal(28,6)"))
            .cast("double"),
            2,
        ).alias("base_total"),
    )


@query(
    "etl_gdpr_erasure",
    """
    WITH erased AS (SELECT DISTINCT o_custkey FROM orders
                    WHERE o_custkey % 97 = 0)
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS total
    FROM orders
    WHERE o_custkey NOT IN (SELECT o_custkey FROM erased)
    GROUP BY o_orderstatus
    """,
)
def etl_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure (GDPR Art. 17) on the txn table: delete every
    fact row of the requested subjects (customers with key % 97 == 0)
    as ONE atomic versioned commit, with the txn log as the audit
    trail (the delete manifest records WHEN erasure happened without
    retaining WHO — storing erased keys would itself violate the
    request). File-level copy-on-write means only files containing
    subject rows rewrite; VACUUM then retires the pre-images — the
    two-step (logical delete now, physical purge at retention) that
    actually satisfies both the regulator and snapshot isolation.

    The returned frame is the post-erasure table; the oracle
    reconstructs it relationally. In-op asserts pin: erased subjects
    gone, version advanced exactly once, pre-image files collected."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    root = stage.fresh(sf_dir, "gdpr")
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(o.repartitionByRange(4, "o_orderkey"))
    v, rewritten, _ = tt.delete_where(F.col("o_custkey") % 97 == 0)
    assert v == 1 and rewritten >= 1
    deleted, _ = tt.vacuum(retain_versions=1)
    assert deleted >= 1, "physical purge must collect pre-images"
    out = tt.read()
    assert out.filter(F.col("o_custkey") % 97 == 0).count() == 0
    return out.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("price").cast("double"), 2).alias("total"),
    )


@query(
    "dq_double_charge",
    """
    WITH s AS (
      SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS amt,
             o_orderdate, o_orderkey,
             lag(o_orderdate) OVER w AS prev_date,
             lag(o_orderkey) OVER w AS prev_key,
             lag(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS prev_amt
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey,
           CAST(prev_amt AS DOUBLE) AS prev_amt,
           CAST(amt AS DOUBLE) AS amt,
           prev_key AS first_orderkey, o_orderkey AS second_orderkey,
           CAST(epoch_us(o_orderdate) - epoch_us(prev_date) AS BIGINT)
             // 86400000000 AS gap_days
    FROM s
    WHERE prev_date IS NOT NULL
      AND o_orderdate < prev_date + INTERVAL 14 DAY
      AND 20 * abs(amt - prev_amt) <= prev_amt
    """,
)
def dq_double_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge screen: CONSECUTIVE orders by the same customer
    within 14 days at near-identical amounts (±5%) — the fintech
    reconciliation suspect list (retry storms, double-submitted carts,
    replayed webhooks all land here). Detection is one lag window per
    customer — no self-join, no band join; the similarity check is the
    decimal-exact inequality 20·|Δamount| ≤ prev_amount (a float 0.05
    multiplier would type as DECIMAL in one engine and DOUBLE in the
    other). Chains of k repeats emit k−1 suspect pairs by design; at
    100 TB the shuffle carries the per-customer grouping the fraud
    team partitions by anyway."""
    o = table(spark, sf_dir, "orders")
    amt = F.col("o_totalprice").cast("decimal(18,2)")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    s = o.select(
        "o_custkey", amt.alias("amt"), "o_orderdate", "o_orderkey",
        F.lag("o_orderdate").over(w).alias("prev_date"),
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lag(amt).over(w).alias("prev_amt"),
    )
    gap_days = (
        (F.unix_micros("o_orderdate") - F.unix_micros("prev_date"))
        / F.lit(86400000000)
    ).cast("long")
    return s.filter(
        F.col("prev_date").isNotNull()
        & (F.col("o_orderdate")
           < F.col("prev_date") + F.expr("INTERVAL 14 DAY"))
        & (20 * F.abs(F.col("amt") - F.col("prev_amt"))
           <= F.col("prev_amt"))
    ).select(
        "o_custkey",
        # comparison above is decimal-exact; OUTPUT is double — DECIMAL
        # result columns sit outside the driver comparator's canonical
        # domain ('X.90' vs 'X.9', the round-9 red), and a 2dp decimal
        # converts to the identical IEEE double on both engines
        F.col("prev_amt").cast("double").alias("prev_amt"),
        F.col("amt").cast("double").alias("amt"),
        F.col("prev_key").alias("first_orderkey"),
        F.col("o_orderkey").alias("second_orderkey"),
        gap_days.alias("gap_days"),
    )
