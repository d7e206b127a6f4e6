"""Aggregation operators (SURVEY.md §2.4).

All grouped aggregates here compile to Spark's partial+final hash
aggregate: map-side combine first, then one shuffle on the grouping key.
Low-cardinality keys (returnflag, priority) make the shuffle tiny at any
scale. Float discipline: every double aggregate is rounded identically
in the oracle SQL because summation order differs between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators import global_order as GO
from xlsx_to_database_spark.operators.global_order import (
    with_global_running_sums,
)
from xlsx_to_database_spark.registry import query


@query(
    "agg_count_distinct",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS uniq_customers,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct per group — Spark expands to a two-phase aggregate
    (distinct on (key, custkey) then count), both phases map-side partial."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("uniq_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query("agg_approx_distinct")  # rows-only: HLL estimates differ across engines
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct users per event type. At 100 TB this is
    THE distinct-count to use: constant memory per group vs the exact
    version's shuffle of every distinct pair. rsd=0.01 keeps it within 1%
    (asserted in unit tests against the exact count)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))
    )


@query(
    "agg_having",
    """
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) > 12
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
        )
        .filter(F.col("n_orders") > 12)
    )


@query(
    "agg_filtered",
    """
    SELECT l_linestatus,
           round(sum(l_extendedprice) FILTER (WHERE l_returnflag = 'A'), 2) AS returned_revenue,
           round(sum(l_extendedprice) FILTER (WHERE l_returnflag = 'N'), 2) AS kept_revenue,
           count(*) FILTER (WHERE l_discount > 0.05) AS big_discount_lines
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-aggregate predicates via conditional projection — one pass, no
    extra scans (the classic pivot-style filtered aggregate)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.sum(F.when(F.col("l_returnflag") == "A", F.col("l_extendedprice"))), 2).alias(
            "returned_revenue"
        ),
        F.round(F.sum(F.when(F.col("l_returnflag") == "N", F.col("l_extendedprice"))), 2).alias(
            "kept_revenue"
        ),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("big_discount_lines"),
    )


@query(
    "agg_stats",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS qty_stddev,
           round(var_samp(l_quantity), 6) AS qty_var,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates. Quantity/discount are small-magnitude, so
    6dp rounding absorbs cross-engine summation-order noise."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("qty_disc_covar"),
    )


@query(
    "agg_percentile",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`, both linear interpolation). Exact percentile sorts
    per group; at 100 TB prefer `approx_percentile` (see unit tests) —
    kept exact here for oracle parity."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), 4).alias("median_qty"),
        F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90_price"),
    )


@query("agg_percentile_approx")  # rows-only: sketch ≠ DuckDB's exact quantile
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch percentiles (`approx_percentile`, GK algorithm) —
    the 100 TB path: constant-size partial state instead of a per-group
    sort. Deterministic for fixed data+accuracy, but engine-specific, so
    rows-only here; tests/test_operators.py bounds its error against the
    exact percentile."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.approx_percentile("l_quantity", F.lit(0.5), F.lit(10000)), 4).alias(
            "median_qty_approx"
        ),
        F.round(F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(10000)), 4).alias(
            "p90_price_approx"
        ),
    )


@query(
    "agg_minmax_by",
    """
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice) AS priciest_order,
           arg_min(o_orderkey, o_totalprice) AS cheapest_order,
           round(max(o_totalprice), 2) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin. Deterministic on this data because o_totalprice is
    collision-free at the group extremes (verified against the oracle;
    ties would need a struct-ordered tiebreak in both engines)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "agg_collect",
    """
    SELECT n_regionkey,
           array_to_string(list_sort(array_agg(n_name)), ',') AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group list, sorted for determinism (collect order is
    partition-dependent otherwise), emitted as a delimited string: the
    comparison harness canonicalizes via pandas sort, which can't hash raw
    array cells. The aggregation itself is still collect_list — only the
    final projection serializes."""
    n = table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations")
    )


@query(
    "agg_rollup",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtotal hierarchy: (status, priority) → (status) → (). Data has no
    null grouping values, so NULL cells unambiguously mark subtotals."""
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_lines,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


@query(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping-set list via the SQL path (entry point 3)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "agg_global",
    """
    SELECT count(*) AS n_lines,
           round(sum(l_extendedprice), 2) AS total_price,
           round(avg(l_discount), 6) AS avg_discount,
           round(min(l_quantity), 2) AS min_qty,
           round(max(l_quantity), 2) AS max_qty
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregate — partials from every partition reduce to one row."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_discount"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )


@query(
    "agg_corr",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(covar_pop(l_quantity, l_extendedprice), 4) AS qty_price_covar_pop
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group — Pearson correlation and sample/
    population covariance. Single-pass mergeable moment aggregates
    (partial co-moments combine associatively), so they map-side combine
    like any sum: constant state per group at any scale."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_covar"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("qty_price_covar_pop"),
    )


@query("agg_hll_sketch")  # rows-only: DataSketches HLL has no DuckDB equivalent
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches, Spark 3.5+) — THE
    pattern for distinct-counting at 100 TB: each partition builds a
    constant-size sketch, sketches merge associatively (map-side
    combine, tiny shuffle), and — unlike `approx_count_distinct`, which
    yields only a number — the sketch itself is a first-class binary
    value you can store per day/segment and re-merge later for any
    rollup WITHOUT rescanning the data. Here: per-returnflag sketches of
    l_orderkey, re-merged via `hll_union_agg` into the ALL row — the
    stored-sketch rollup in miniature. Estimates are deterministic
    (no RNG); the tolerance test asserts <2% error vs exact."""
    li = table(spark, sf_dir, "lineitem")
    per_group = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk")
    )
    groups = per_group.select(
        "l_returnflag", F.hll_sketch_estimate("sk").alias("approx_orders")
    )
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_orders")
    ).select(F.lit("ALL").alias("l_returnflag"), "approx_orders")
    return groups.unionByName(merged).orderBy("l_returnflag")


@query(
    "agg_string",
    """
    SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS vip_names,
           count(*) AS n_vips
    FROM customer WHERE c_acctbal >= 9000
    GROUP BY c_nationkey
    """,
)
def agg_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (listagg): concatenate the high-balance
    customer names per nation in sorted order. Spark has no ordered
    string_agg aggregate, but `sort_array(collect_list(...))` +
    `concat_ws` is exactly equivalent (binary collation both engines)
    and still map-side combines the list partials. The sort keeps the
    output deterministic — unordered listagg is a hash-parity landmine."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") >= 9000)
    return c.groupBy("c_nationkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("c_name"))).alias("vip_names"),
        F.count("*").alias("n_vips"),
    )


@query(
    "stat_histogram",
    """
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def stat_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as a plain hash aggregate: the bucket id is
    `floor(x/width)` — pure codegen arithmetic, so the histogram costs
    exactly one map-side-combined aggregation regardless of data size
    (bucket count bounds the state, not row count). The min/max per
    bucket double as an occupancy check on the bucketing itself."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "agg_condcount",
    """
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_or(o_orderstatus = 'F') AS any_finished,
           bool_and(o_totalprice > 0) AS all_positive
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_condcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate aggregates: conditional count plus boolean any/all per
    group. All three are single-pass mergeable (count_if is a summed
    indicator, bool_or/bool_and are OR/AND-combined) — constant state
    per group at any scale, unlike the DISTINCT family."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
    )


@query(
    "agg_grouping_id",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() indicator columns — the disambiguator
    between 'subtotal row' and 'genuinely-null grouping value' that
    every report generator needs once grouping columns are nullable."""
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )


@query(
    "agg_bitmap_distinct",
    """
    SELECT user_id,
           CAST(bit_count(bit_or(CASE event_type
                WHEN 'click' THEN 1 WHEN 'view' THEN 2
                WHEN 'purchase' THEN 4 ELSE 8 END)) AS BIGINT)
               AS distinct_types,
           CAST(bit_or(CASE event_type
                WHEN 'click' THEN 1 WHEN 'view' THEN 2
                WHEN 'purchase' THEN 4 ELSE 8 END) AS BIGINT) AS type_bitmap
    FROM events
    GROUP BY user_id
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-based COUNT(DISTINCT) for small domains: each category
    maps to a bit, `bit_or` merges partials associatively, `bit_count`
    reads the answer. This is how engines make distinct-counting cheap
    when the domain is enumerable — the aggregate state is ONE LONG
    (vs a hash set per group for count_distinct, or KB-scale HLL
    sketches for approx): merge is a single OR instruction,
    partial aggregation before the shuffle is maximally effective, and
    the bitmap itself is reusable downstream (set ops between groups
    become bitwise AND/OR). Domain > 64 → bucket into multiple longs
    or fall back to HLL (`agg_hll_sketch`)."""
    ev = table(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "purchase", 4)
        .otherwise(8)
    )
    return ev.groupBy("user_id").agg(
        F.bit_count(F.bit_or(bit)).cast("long").alias("distinct_types"),
        F.bit_or(bit).cast("long").alias("type_bitmap"),
    )


@query(
    "agg_entropy",
    """
    WITH counts AS (
        SELECT c_mktsegment, o_orderpriority, count(*) AS c
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment, o_orderpriority
    ), tot AS (
        SELECT c_mktsegment, sum(c) AS n FROM counts GROUP BY c_mktsegment
    )
    SELECT counts.c_mktsegment,
           round(-CAST(sum(CAST((c / n) * ln(c / n)
                               AS DECIMAL(28,18))) AS DOUBLE), 6) AS entropy
    FROM counts JOIN tot ON counts.c_mktsegment = tot.c_mktsegment
    GROUP BY counts.c_mktsegment
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the order-priority mix per market segment —
    the distribution-skew metric corpus curation uses (low entropy =
    one source/class dominating). Two hash aggregates (category counts,
    then per-group entropy); each p·ln p term quantizes to
    DECIMAL(28,18) before summing so the cross-category total is
    order-insensitive and engine-exact (ln itself is bit-identical
    across both engines' libm — verified — but float SUMMATION order
    is not). Counts are exact integers, so p = c/n is bit-identical by
    construction."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    counts = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = counts.groupBy("c_mktsegment").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        counts.join(tot, "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.round(
                -F.sum((p * F.log(p)).cast("decimal(28,18)")).cast("double"), 6
            ).alias("entropy")
        )
    )


@query(
    "stat_ks_test",
    """
    WITH a AS (
        SELECT o_totalprice AS x FROM orders WHERE o_orderpriority = '1-URGENT'
    ), b AS (
        SELECT o_totalprice AS x FROM orders WHERE o_orderpriority = '5-LOW'
    ), pooled AS (
        SELECT x, 1 AS is_a, 0 AS is_b FROM a
        UNION ALL
        SELECT x, 0 AS is_a, 1 AS is_b FROM b
    ), cdfs AS (
        SELECT x,
               CAST(sum(is_a) OVER (ORDER BY x, is_a
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   / (SELECT count(*) FROM a) AS cdf_a,
               CAST(sum(is_b) OVER (ORDER BY x, is_a
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   / (SELECT count(*) FROM b) AS cdf_b
        FROM pooled
    )
    SELECT round(max(abs(cdf_a - cdf_b)), 6) AS ks_stat
    FROM cdfs
    """,
)
def stat_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic (drift detection between
    the URGENT and LOW price distributions): pool both samples, running
    per-sample counts over the sorted pool give both empirical CDFs in
    ONE window pass, KS = max |ΔCDF|. The textbook per-sample
    sort-and-probe becomes a single global sort + running sums — and
    since the CDF values are exact integer counts over exact totals,
    every |ΔCDF| is bit-identical across engines; only the final max
    is reported (rounded for display). The running sums use the
    two-phase distributed global order (operators/global_order.py):
    range-bucket on approx-quantile boundaries of x, per-bucket running
    sums plus exclusive bucket-prefix offsets — exactly the global
    window's answer, but the sort parallelizes across buckets, so exact
    KS stays feasible on fact-table-sized samples. Tie order (x, is_a)
    is total enough: same-x rows contribute the same cumulative counts
    once both arrive, and max over the pool is order-insensitive
    within ties."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_totalprice").alias("x")
    )
    b = o.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_totalprice").alias("x")
    )
    n_a, n_b = a.count(), b.count()  # two scalars; sizes are metadata
    pooled = a.select("x", F.lit(1).alias("is_a"), F.lit(0).alias("is_b")).unionAll(
        b.select("x", F.lit(0).alias("is_a"), F.lit(1).alias("is_b"))
    )

    cums = with_global_running_sums(
        pooled,
        [F.col("x").asc(), F.col("is_a").asc()],
        "x",
        {"cum_a": "is_a", "cum_b": "is_b"},
        n_rows=n_a + n_b,  # sizes already counted above — skip the count job
    )
    cdfs = cums.select(
        (F.col("cum_a").cast("double") / n_a).alias("cdf_a"),
        (F.col("cum_b").cast("double") / n_b).alias("cdf_b"),
    )
    return cdfs.agg(
        F.round(F.max(F.abs(F.col("cdf_a") - F.col("cdf_b"))), 6).alias("ks_stat")
    )


@query(
    "agg_skew_twophase",
    """
    SELECT o_orderpriority,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*), 6) AS avg_price,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_skew_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation for skewed group keys: phase 1
    groups by (key, salt) — here salt = o_orderkey % 16 — so a hot key's
    rows spread over 16 reducers; phase 2 merges the 16 partial
    (sum, count) states per key. Result-transparent (the oracle is the
    plain one-phase GROUP BY): sum/count are commutative monoids, so
    re-association across salts changes nothing — which is exactly why
    the sums are DECIMAL, making that claim engine-exact instead of
    float-order-dependent. Spark's own partial aggregation already does
    this within partitions; explicit salting is the escape hatch when
    ONE reducer key still exceeds executor memory (think a single
    domain holding 10% of a 100 TB corpus). Cost: one extra (cheap,
    16x-smaller) shuffle stage."""
    o = table(spark, sf_dir, "orders")
    phase1 = (
        o.withColumn("salt", F.col("o_orderkey") % 16)
        .groupBy("o_orderpriority", "salt")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    return phase1.groupBy("o_orderpriority").agg(
        F.round(
            F.sum("s").cast("double") / F.sum("c"), 6
        ).alias("avg_price"),
        F.sum("c").alias("n_orders"),
    )


@query(
    "agg_approx_topk",
    """
    SELECT t AS term, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
    GROUP BY t
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch (`approx_top_k`, DataSketches frequent-items
    under the hood) — the mergeable, bounded-memory heavy-hitters path:
    per-partition sketches of fixed size merge associatively, so the
    answer costs one shuffle of KB-scale state no matter the corpus.
    Exact-oracled HERE because the sketch is exact whenever the distinct
    count fits its maxItemsTracked (31 terms << 10000 default): every
    counter is precise and k exceeds the domain, so the output equals
    the plain GROUP BY. At real web scale the tail counts turn into
    (count, error-bound) estimates — the guarantee degrades gracefully
    to epsilon*N overcounting, which is what you want for 'top domains
    by document count' style curation queries."""
    d = table(spark, sf_dir, "documents")
    terms = d.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
    sk = terms.agg(F.expr("approx_top_k(term, 40)").alias("tk"))
    return sk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("term"), F.col("e.count").cast("long").alias("cnt")
    )


@query(
    "agg_weighted",
    """
    WITH w AS (
        SELECT l_returnflag,
               l_extendedprice AS v,
               CAST(l_quantity AS DECIMAL(18,2)) AS wt,
               CAST(l_extendedprice * l_quantity AS DECIMAL(28,6)) AS wv
        FROM lineitem
    ), agg AS (
        SELECT l_returnflag,
               round(CAST(sum(wv) AS DOUBLE) / CAST(sum(wt) AS DOUBLE), 6)
                   AS weighted_mean,
               sum(wt) AS tot_w
        FROM w GROUP BY l_returnflag
    ), cum AS (
        SELECT l_returnflag, v,
               sum(wt) OVER (PARTITION BY l_returnflag
                             ORDER BY v, wt
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cw
        FROM w
    ), med AS (
        SELECT c.l_returnflag, min(v) AS weighted_median
        FROM cum c JOIN agg a USING (l_returnflag)
        WHERE 2 * c.cw >= a.tot_w
        GROUP BY c.l_returnflag
    )
    SELECT a.l_returnflag, a.weighted_mean, m.weighted_median
    FROM agg a JOIN med m USING (l_returnflag)
    """,
)
def agg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mean + weighted median per group (the importance-weighted
    stats corpus mixing uses: weight = sample count / quality score).
    Mean: decimal-quantized value*weight products so summation order is
    engine-exact. Median: running cumulative weight over the per-group
    value order, first value whose 2*cumweight >= total — the comparison
    is decimal-vs-decimal (associative sums), never float-vs-float.
    Costs one shuffle for the aggregate plus one window sort per group;
    at 100 TB the median side switches to a weighted approx-quantile
    sketch while the mean side is already single-pass."""
    li = table(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("decimal(18,2)").alias("wt"),
        (F.col("l_extendedprice") * F.col("l_quantity"))
        .cast("decimal(28,6)")
        .alias("wv"),
    )
    agg = w.groupBy("l_returnflag").agg(
        F.round(F.sum("wv").cast("double") / F.sum("wt").cast("double"), 6).alias(
            "weighted_mean"
        ),
        F.sum("wt").alias("tot_w"),
    )
    win = Window.partitionBy("l_returnflag").orderBy("v", "wt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = w.select("l_returnflag", "v", F.sum("wt").over(win).alias("cw"))
    med = (
        cum.join(agg.select("l_returnflag", "tot_w"), "l_returnflag")
        .filter(2 * F.col("cw") >= F.col("tot_w"))
        .groupBy("l_returnflag")
        .agg(F.min("v").alias("weighted_median"))
    )
    return agg.select("l_returnflag", "weighted_mean").join(med, "l_returnflag")


@query(
    "agg_gini",
    """
    WITH ranked AS (
        SELECT o_orderpriority,
               CAST(o_totalprice AS DECIMAL(18,4)) AS x,
               CAST(row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS i
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round((2 * CAST(sum(CAST(i AS DECIMAL(18,0)) * x) AS DOUBLE)
                  - (count(*) + 1) * CAST(sum(x) AS DOUBLE))
                 / (count(*) * CAST(sum(x) AS DOUBLE)), 6) AS gini
    FROM ranked GROUP BY o_orderpriority
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-value concentration per priority class —
    the inequality metric corpus curation runs on source/domain token
    shares (a corpus where one domain holds most tokens has high Gini
    and poor diversity). Closed-form from the sorted series: G =
    (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) with i the tie-broken per-group
    rank — one window sort per group plus one aggregate, both on the
    natural group key (the sort is per-partition after the key shuffle,
    never global). Rank-weighted sums stay DECIMAL end to end, so
    cross-engine summation order is irrelevant; only the final ratio is
    floating point."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = o.select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,4)").alias("x"),
        F.row_number().over(w).cast("long").alias("i"),
    )
    n = F.count(F.lit(1))
    swx = F.sum(F.col("i").cast("decimal(18,0)") * F.col("x")).cast("double")
    sx = F.sum("x").cast("double")
    return ranked.groupBy("o_orderpriority").agg(
        n.alias("n"),
        F.round((2 * swx - (n + 1) * sx) / (n * sx), 6).alias("gini"),
    )


@query(
    "agg_weighted_median",
    """
    WITH vals AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
             sum(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY 1
    ), cum AS (
      SELECT v, w, sum(w) OVER (ORDER BY v) AS cw,
             (SELECT sum(w) FROM vals) AS tw
      FROM vals
    )
    SELECT round(CAST(min(v) AS DOUBLE) / 100, 2) AS weighted_median,
           CAST(min(tw) AS BIGINT) AS total_weight
    FROM cum WHERE 2 * cw >= tw
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median — the quantile a weighted sample actually needs
    (`agg_percentile` treats every row equally; after weighted sampling
    à la `sample_weighted`, or with rows that each represent w units,
    the unweighted median is simply wrong). Lower weighted median:
    smallest value whose cumulative weight reaches half the total.

    Computed on the DISTINCT-VALUE aggregate (value → weight mass),
    then one running weight sum over the value order — the same
    vocabulary-scale global-order shape as stat_spearman's ranks
    (bucketed running sum at scale), never a row-scale sort. Exact:
    values are integer cents, weights integer units; the crossing rule
    2·cw ≥ tw is pure integer arithmetic."""
    li = table(spark, sf_dir, "lineitem")
    vals = li.groupBy(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("v")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    cum = GO.with_global_running_sums(
        vals, [F.col("v")], "v", {"cw": "w"}
    )
    tot = vals.agg(F.sum("w").alias("tw"))
    hit = (
        cum.crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cw") >= F.col("tw"))
        .agg(
            F.min("v").alias("mv"),
            F.min("tw").alias("tw"),
        )
    )
    return hit.select(
        F.round(F.col("mv").cast("double") / 100, 2).alias("weighted_median"),
        F.col("tw").cast("long").alias("total_weight"),
    )


@query(
    "agg_time_decay",
    """
    WITH mx AS (
      SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS tmax FROM events
    ), terms AS (
      SELECT user_id,
             CAST(exp(-(tmax - CAST(floor(epoch(ts)) AS BIGINT))
                      / 2592000.0)
                  * CAST(floor(value * 100 + 0.5) AS BIGINT)
                  AS DECIMAL(28,12)) AS w
      FROM events CROSS JOIN mx
    )
    SELECT user_id,
           round(CAST(sum(w) AS DOUBLE) / 100, 4) AS decayed_value
    FROM terms GROUP BY user_id
    """,
)
def agg_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed value per user (30-day half-life-ish
    decay, λ = 1/30d) — the recency-weighted aggregate behind LTV
    scoring, decayed engagement, and trending rankings: yesterday's
    purchase counts almost fully, last quarter's barely. The anchor is
    the corpus max timestamp (one broadcast scalar), so the result is
    deterministic and re-runnable — never wall-clock `now()`, which the
    oracle could not replay.

    Exactness: each per-row term exp(−Δt/τ)·cents is an
    engine-identical double (exp over identical integer inputs)
    quantized to DECIMAL(28,12) BEFORE the per-user sum — the entropy/
    perplexity discipline that makes a transcendental-weighted
    aggregate hash-exact. One scalar broadcast + one combiner-friendly
    shuffle."""
    e = table(spark, sf_dir, "events")
    mx = e.agg(F.max(F.unix_timestamp("ts")).alias("tmax"))
    term = (
        F.exp(
            -(F.col("tmax") - F.unix_timestamp("ts")) / F.lit(2592000.0)
        )
        * F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    ).cast("decimal(28,12)")
    return (
        e.crossJoin(F.broadcast(mx))
        .select("user_id", term.alias("w"))
        .groupBy("user_id")
        .agg(
            F.round(F.sum("w").cast("double") / 100, 4).alias("decayed_value")
        )
    )


@query(
    "agg_skyline_2d",
    """
    WITH pts AS (
      SELECT p_partkey, p_size,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS pc
      FROM part
    ), best AS (
      SELECT p_partkey, p_size, pc,
             max(pc) OVER (ORDER BY p_size, pc DESC, p_partkey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS best_before
      FROM pts
    )
    SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
           round(CAST(pc AS DOUBLE) / 100, 2) AS p_retailprice
    FROM best
    WHERE best_before IS NULL OR pc > best_before
    """,
)
def agg_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) — parts not DOMINATED by any other
    part that is both smaller (≤ size) and pricier (≥ price, one
    strictly): the multi-criteria shortlist operator (cheapest-fastest
    flights, smallest-most-valuable parts) relational engines famously
    lack. In 2-D it collapses to one sorted pass: order by (size asc,
    price desc), keep a row iff its price strictly exceeds the running
    max of everything before it — a window, not an O(n²) dominance
    join. Ties: equal (size, price) duplicates all survive (none
    strictly dominates another), realized by putting price DESC then
    key in the sort so equals see only STRICTLY better predecessors…
    and the running max over the 1-PRECEDING frame makes the first row
    trivially kept.

    Scale shape: the global order runs on the (size, price) DISTINCT
    domain in principle; here the window is a single sort at
    part-table scale — at 100 TB the same pass rides the bucketed
    global-order machinery (operators/global_order.py), since the
    comparison key is 1-D once sorted. Integer cents; no floats in the
    dominance test."""
    p = table(spark, sf_dir, "part")
    pts = p.select(
        "p_partkey",
        "p_size",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("pc"),
    )
    w = Window.orderBy(
        "p_size", F.col("pc").desc(), "p_partkey"
    ).rowsBetween(Window.unboundedPreceding, -1)
    best = pts.withColumn("best_before", F.max("pc").over(w))
    return best.filter(
        F.col("best_before").isNull() | (F.col("pc") > F.col("best_before"))
    ).select(
        "p_partkey",
        F.col("p_size").cast("long").alias("p_size"),
        F.round(F.col("pc").cast("double") / 100, 2).alias("p_retailprice"),
    )


@query(
    "agg_geometric_mean",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(exp(CAST(sum(CAST(round(ln(o_totalprice), 8)
                                   AS DECIMAL(20,8))) AS DOUBLE)
                     / count(*)), 4) AS geo_mean,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE) / count(*), 4) AS arith_mean
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean per priority class (beside the arithmetic mean
    for contrast) — the right average for multiplicative quantities
    (growth rates, price relatives); always ≤ the arithmetic mean
    (AM-GM), which the unit test pins.

    Exactness: log-space is how geometric means distribute (one
    mergeable Σln pass), but a raw double Σln is summation-order
    dependent — each ln is quantized to DECIMAL(20,8) first (the
    text_perplexity device), making the aggregation exact and the
    final exp(Σ/n) one identical float expression per engine."""
    o = table(spark, sf_dir, "orders")
    lg = (
        F.round(F.log(F.col("o_totalprice")), 8).cast("decimal(20,8)")
    )
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.exp(F.sum(lg).cast("double") / F.count(F.lit(1))), 4
        ).alias("geo_mean"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double") / F.count(F.lit(1)),
            4,
        ).alias("arith_mean"),
    )


@query(
    "agg_revenue_concentration",
    """
    WITH by_cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(28,2)) AS rev
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT rev,
             row_number() OVER (ORDER BY rev DESC, o_custkey) AS rn,
             sum(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum,
             count(*) OVER () AS n_cust,
             sum(rev) OVER () AS total
      FROM by_cust
    )
    SELECT CAST(min(rn) AS BIGINT) AS n_top_customers,
           (SELECT CAST(max(n_cust) AS BIGINT) FROM ranked) AS n_customers,
           round(CAST(min(rn) AS DOUBLE)
                 / (SELECT max(n_cust) FROM ranked), 6) AS top_fraction
    FROM ranked
    WHERE CAST(cum AS DOUBLE) >= 0.8 * CAST(total AS DOUBLE)
    """,
)
def agg_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration — the inverse-Lorenz question: how many of
    the top customers carry 80% of revenue? (`stat_lorenz_curve` gives
    the whole curve; this answers the one cut every account-strategy
    deck quotes.) The answer is the smallest descending-rank whose
    cumulative share crosses the threshold.

    Shape: per-customer revenue aggregate, then a customer-scale
    descending running sum (at fact scale the bucketed global-order
    machinery is the documented path; the CUSTOMER aggregate — 1 row
    per key — is what's being ranked, orders of magnitude smaller than
    the facts). The 0.8 crossover compares exact decimal sums cast
    through one shared float expression."""
    o = table(spark, sf_dir, "orders")
    by_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)").alias("rev")
    )
    w = Window.orderBy(F.col("rev").desc(), "o_custkey")
    ranked = by_cust.select(
        "rev",
        F.row_number().over(w).alias("rn"),
        F.sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("n_cust"),
        F.sum("rev").over(Window.partitionBy()).alias("total"),
    )
    hit = ranked.filter(
        F.col("cum").cast("double") >= 0.8 * F.col("total").cast("double")
    )
    return hit.agg(
        F.min("rn").cast("long").alias("n_top_customers"),
        F.max("n_cust").cast("long").alias("n_customers"),
        F.round(
            F.min("rn").cast("double") / F.max("n_cust"), 6
        ).alias("top_fraction"),
    )


@query(
    "agg_percent_of_parent",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(28,2)) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation,
           round(CAST(rev AS DOUBLE), 2) AS revenue,
           round(CAST(rev AS DOUBLE)
                 / CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE),
                 6) AS pct_of_region,
           round(CAST(rev AS DOUBLE)
                 / CAST(sum(rev) OVER () AS DOUBLE), 6) AS pct_of_total
    FROM rev
    """,
)
def agg_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at two hierarchy levels — each nation's share
    of its region and of the world: the ratio every drill-down BI
    report renders next to the absolute number. One star join + one
    aggregate at (region, nation) grain; both normalizing windows run
    over the 25-row aggregate (metadata), with decimal sums keeping the
    shares exact. The 100 TB version is identical — the aggregate is
    what shrinks, and shares are computed on the aggregate."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)").alias("rev")
        )
    )
    wr = Window.partitionBy("region")
    wt = Window.partitionBy()
    return rev.select(
        "region", "nation",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.round(
            F.col("rev").cast("double")
            / F.sum("rev").over(wr).cast("double"), 6
        ).alias("pct_of_region"),
        F.round(
            F.col("rev").cast("double")
            / F.sum("rev").over(wt).cast("double"), 6
        ).alias("pct_of_total"),
    )


@query(
    "agg_yoy_growth",
    """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(28,2)) AS rev
      FROM orders GROUP BY 1
    ), shifted AS (
      SELECT mon, rev,
             lag(rev, 12) OVER (ORDER BY mon) AS rev_prior
      FROM monthly
    )
    SELECT mon, round(CAST(rev AS DOUBLE), 2) AS revenue,
           round(CAST(rev_prior AS DOUBLE), 2) AS revenue_prior_year,
           round(100 * (CAST(rev AS DOUBLE)
                        / CAST(rev_prior AS DOUBLE) - 1), 4)
             AS yoy_pct
    FROM shifted WHERE rev_prior IS NOT NULL
    """,
)
def agg_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth — lag-12 over the MONTH
    series, the comparison every revenue review opens with (raw
    month-over-month is seasonality noise; YoY cancels the seasonal
    term by construction). `win_pct_change` lags at row grain; this is
    the calendar-aligned business version. Assumes a gapless month
    series (true of this data; `etl_calendar_scaffold` is the fix when
    it isn't — a missing month would silently misalign lag-12).

    Shape: one fact-scale month aggregate with decimal sums, then a
    lag window over the dozens-row month series — metadata. The
    division is a shared float expression over exact decimals."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("mon")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)").alias("rev")
    )
    w = Window.orderBy("mon")
    shifted = monthly.select(
        "mon", "rev", F.lag("rev", 12).over(w).alias("rev_prior")
    )
    return shifted.filter(F.col("rev_prior").isNotNull()).select(
        "mon",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.round(F.col("rev_prior").cast("double"), 2)
        .alias("revenue_prior_year"),
        F.round(
            100 * (F.col("rev").cast("double")
                   / F.col("rev_prior").cast("double") - 1),
            4,
        ).alias("yoy_pct"),
    )


@query(
    "agg_waterfall_decomp",
    """
    WITH by_nation AS (
      SELECT c.c_nationkey AS nationkey,
             CAST(sum(CASE WHEN year(o_orderdate) = 1997
                  THEN CAST(o_totalprice AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(28,2))
               AS rev_a,
             CAST(sum(CASE WHEN year(o_orderdate) = 1998
                  THEN CAST(o_totalprice AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(28,2))
               AS rev_b
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE year(o_orderdate) IN (1997, 1998)
      GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(rev_b - rev_a) AS DECIMAL(28,2)) AS delta_total
      FROM by_nation
    )
    SELECT nationkey,
           round(CAST(rev_a AS DOUBLE), 2) AS rev_1997,
           round(CAST(rev_b AS DOUBLE), 2) AS rev_1998,
           round(CAST(rev_b - rev_a AS DOUBLE), 2) AS delta,
           round(CAST(rev_b - rev_a AS DOUBLE)
                 / CAST(delta_total AS DOUBLE), 6) AS share_of_change
    FROM by_nation CROSS JOIN tot
    """,
)
def agg_waterfall_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waterfall decomposition of the 1997→1998 revenue change by
    nation: per-nation deltas that sum EXACTLY to the total change
    (decimal arithmetic guarantees the bridge closes — the property a
    waterfall chart silently assumes and float pipelines silently
    break). The executive "what moved the number" view; the unit test
    pins Σdelta = Δtotal to the cent.

    One conditional two-period aggregate over the star join, a 1-row
    total broadcast back over the 25-row result."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    yr = F.year("o_orderdate")
    by_nation = (
        o.filter(yr.isin(1997, 1998))
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.sum(F.when(yr == 1997, p).otherwise(zero))
            .cast("decimal(28,2)").alias("rev_a"),
            F.sum(F.when(yr == 1998, p).otherwise(zero))
            .cast("decimal(28,2)").alias("rev_b"),
        )
    )
    tot = by_nation.agg(
        F.sum(F.col("rev_b") - F.col("rev_a"))
        .cast("decimal(28,2)").alias("delta_total")
    )
    return by_nation.crossJoin(F.broadcast(tot)).select(
        "nationkey",
        F.round(F.col("rev_a").cast("double"), 2).alias("rev_1997"),
        F.round(F.col("rev_b").cast("double"), 2).alias("rev_1998"),
        F.round((F.col("rev_b") - F.col("rev_a")).cast("double"), 2)
        .alias("delta"),
        F.round(
            (F.col("rev_b") - F.col("rev_a")).cast("double")
            / F.col("delta_total").cast("double"),
            6,
        ).alias("share_of_change"),
    )


@query(
    "agg_basket_profile",
    """
    WITH baskets AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DECIMAL(28,2)) AS basket_value
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT n_lines,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(basket_value) AS DOUBLE) / count(*), 2)
             AS avg_basket_value,
           round(CAST(sum(basket_value) AS DOUBLE), 2) AS total_value
    FROM baskets GROUP BY n_lines
    """,
)
def agg_basket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size profile: the distribution of lines-per-order with
    the average and total basket value at each size — merchandising's
    first question ("do bigger baskets carry super-linear value?") and the
    capacity input for picking/packing simulation. Two partial
    aggregates (order grain, then size grain — the second runs on a
    dozens-row domain); decimal basket sums keep the averages exact."""
    li = table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)").alias("basket_value"),
    )
    return baskets.groupBy("n_lines").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum("basket_value").cast("double") / F.count(F.lit(1)), 2
        ).alias("avg_basket_value"),
        F.round(F.sum("basket_value").cast("double"), 2)
        .alias("total_value"),
    )
