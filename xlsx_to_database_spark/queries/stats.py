"""Statistics ops: hypothesis tests, correlation, estimators and
distribution fits, each computed from exact (integer or DECIMAL)
sufficient statistics so both engines agree bit for bit."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators import global_order as GO
from xlsx_to_database_spark.operators.global_order import (
    with_global_ntile,
    with_global_running_sums,
)
from xlsx_to_database_spark.registry import query


@query(
    "stat_linreg",
    """
    WITH moments AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))
                        * CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))
                        * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_obs,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
               AS intercept
    FROM moments
    """,
)
def stat_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS (price ~ quantity): slope and intercept derived
    from single-pass DECIMAL co-moments (n, Σx, Σy, Σxy, Σx²) — the
    mergeable-state form that scales to any partition count, and the
    reason the oracle is exact: decimal sums are order-insensitive, and
    the closing algebra runs in DOUBLE on bit-identical inputs on both
    engines (Spark's regr_slope/regr_intercept use a different float
    accumulation path, which is why they're NOT used here). One
    shuffle: the 3-group aggregate."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,4)")
    y = F.col("l_extendedprice").cast("decimal(18,4)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_obs"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
    )


@query(
    "stat_chi2",
    """
    WITH cells AS (
        SELECT c_mktsegment AS seg, o_orderpriority AS pri,
               CAST(count(*) AS DOUBLE) AS obs
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY seg, pri
    ), rowt AS (
        SELECT seg, sum(obs) AS r FROM cells GROUP BY seg
    ), colt AS (
        SELECT pri, sum(obs) AS c FROM cells GROUP BY pri
    ), tot AS (
        SELECT sum(obs) AS n FROM cells
    )
    SELECT round(CAST(sum(CAST(
               (obs - r * c / n) * (obs - r * c / n) / (r * c / n)
               AS DECIMAL(28,12))) AS DOUBLE), 6) AS chi2,
           CAST((count(DISTINCT seg) - 1) * (count(DISTINCT pri) - 1)
                AS BIGINT) AS dof
    FROM cells JOIN rowt USING (seg) JOIN colt USING (pri) CROSS JOIN tot
    """,
)
def stat_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between market segment and order
    priority — the drift/association check data-quality monitoring runs
    between categorical columns. One contingency aggregate feeds
    everything: row totals, column totals, and N are re-aggregations of
    the (seg, pri) cells (cells are |seg|x|pri| rows — KBs at any corpus
    scale, so the three re-aggs and joins are broadcast-trivial; the
    only real shuffle is the first fact-table aggregate). Each cell's
    (obs-exp)^2/exp term is computed in DOUBLE (bit-identical per cell:
    counts are exact integers, exp = r*c/n the same expression both
    engines) then quantized to DECIMAL(28,12) before the cross-cell sum
    so summation order cannot move the hash."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    cells = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("obs"))
    )
    rowt = cells.groupBy("seg").agg(F.sum("obs").alias("r"))
    colt = cells.groupBy("pri").agg(F.sum("obs").alias("c"))
    tot = cells.agg(F.sum("obs").alias("n"))
    exp = F.col("r") * F.col("c") / F.col("n")
    term = (F.col("obs") - exp) * (F.col("obs") - exp) / exp
    return (
        cells.join(rowt, "seg")
        .join(colt, "pri")
        .crossJoin(tot)
        .agg(
            F.round(F.sum(term.cast("decimal(28,12)")).cast("double"), 6).alias(
                "chi2"
            ),
            (
                (F.count_distinct(F.col("seg")) - 1)
                * (F.count_distinct(F.col("pri")) - 1)
            ).alias("dof"),
        )
    )


@query(
    "stat_winsorize",
    """
    WITH q AS (
        SELECT c_mktsegment,
               round(quantile_cont(c_acctbal, 0.05), 4) AS lo,
               round(quantile_cont(c_acctbal, 0.95), 4) AS hi
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_mktsegment,
           round(CAST(sum(CAST(least(greatest(c_acctbal, lo), hi)
                               AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS avg_winsorized,
           CAST(sum(CASE WHEN c_acctbal < lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
           CAST(sum(CASE WHEN c_acctbal > hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high
    FROM customer c JOIN q USING (c_mktsegment)
    GROUP BY c.c_mktsegment
    """,
)
def stat_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per segment — outlier-robust aggregation (clip at
    the 5th/95th percentile, then average) used to keep corpus quality
    metrics from being dragged by extreme documents. Two passes over the
    fact table sharing one scan: an exact-percentile aggregate (per-key,
    group-bounded sort) produces a SEGMENTS-sized boundary table that
    AQE broadcasts back onto the second pass — no re-shuffle of the
    facts for the join. Boundaries are rounded to 4dp on BOTH engines
    before comparing, so clip decisions at the boundary are spec-defined
    rather than dependent on the last ulp of each engine's interpolation;
    clipped values are summed in DECIMAL for order-insensitivity. At
    100 TB swap the exact percentile for `approx_percentile` (mergeable
    sketch) without touching the clip side."""
    c = table(spark, sf_dir, "customer")
    q = c.groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", 0.05), 4).alias("lo"),
        F.round(F.percentile("c_acctbal", 0.95), 4).alias("hi"),
    )
    clip = F.least(F.greatest(F.col("c_acctbal"), F.col("lo")), F.col("hi"))
    return (
        c.join(q, "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.round(
                F.sum(clip.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("avg_winsorized"),
            F.sum(
                F.when(F.col("c_acctbal") < F.col("lo"), 1).otherwise(0)
            ).alias("n_clipped_low"),
            F.sum(
                F.when(F.col("c_acctbal") > F.col("hi"), 1).otherwise(0)
            ).alias("n_clipped_high"),
        )
    )


@query(
    "stat_ttest",
    """
    WITH m AS (
        SELECT
          CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_a,
          CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_b,
          sum(CASE WHEN c_mktsegment = 'BUILDING'
                   THEN CAST(c_acctbal AS DECIMAL(18,2)) ELSE 0 END) AS s_a,
          sum(CASE WHEN c_mktsegment = 'MACHINERY'
                   THEN CAST(c_acctbal AS DECIMAL(18,2)) ELSE 0 END) AS s_b,
          sum(CASE WHEN c_mktsegment = 'BUILDING'
                   THEN CAST(c_acctbal * c_acctbal AS DECIMAL(28,8))
                   ELSE 0 END) AS q_a,
          sum(CASE WHEN c_mktsegment = 'MACHINERY'
                   THEN CAST(c_acctbal * c_acctbal AS DECIMAL(28,8))
                   ELSE 0 END) AS q_b
        FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    )
    SELECT n_a, n_b,
           round((CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
                 / sqrt(((CAST(q_a AS DOUBLE)
                          - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a)
                         / (n_a - 1)) / n_a
                        + ((CAST(q_b AS DOUBLE)
                            - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b)
                           / (n_b - 1)) / n_b), 6) AS t_stat
    FROM m
    """,
)
def stat_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic between segments — the A/B
    significance primitive, computed from single-pass mergeable moments
    (n, sum, sum-of-squares) in ONE conditional aggregate over one scan:
    no per-group sort, no second pass, trivially partial-aggregated
    before the shuffle. The moments are DECIMAL (exact, associative), so
    both engines derive bit-identical means/variances in double from
    identical inputs; only the final statistic is rounded. The
    sum-of-squares variance form is cancellation-prone for
    tight-variance data at extreme magnitudes — at 100 TB with such
    distributions switch the moments to per-partition Welford merges
    (`agg_corr`'s co-moment pattern) and keep everything else."""
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    is_a = F.col("c_mktsegment") == "BUILDING"
    bal = F.col("c_acctbal")
    m = c.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(is_a, bal.cast("decimal(18,2)")).otherwise(F.lit(0))).alias("s_a"),
        F.sum(F.when(~is_a, bal.cast("decimal(18,2)")).otherwise(F.lit(0))).alias("s_b"),
        F.sum(
            F.when(is_a, (bal * bal).cast("decimal(28,8)")).otherwise(F.lit(0))
        ).alias("q_a"),
        F.sum(
            F.when(~is_a, (bal * bal).cast("decimal(28,8)")).otherwise(F.lit(0))
        ).alias("q_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    s_a, s_b = F.col("s_a").cast("double"), F.col("s_b").cast("double")
    q_a, q_b = F.col("q_a").cast("double"), F.col("q_b").cast("double")
    var_a = (q_a - s_a * s_a / n_a) / (n_a - 1)
    var_b = (q_b - s_b * s_b / n_b) / (n_b - 1)
    return m.select(
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        F.round(
            (s_a / n_a - s_b / n_b) / F.sqrt(var_a / n_a + var_b / n_b), 6
        ).alias("t_stat"),
    )


@query(
    "stat_equidepth_hist",
    """
    WITH b AS (
        SELECT c_acctbal,
               ntile(8) OVER (ORDER BY c_acctbal, c_custkey) AS bucket
        FROM customer
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(c_acctbal), 2) AS lo,
           round(max(c_acctbal), 2) AS hi,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 6) AS mean_bal
    FROM b GROUP BY bucket
    """,
)
def stat_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) histogram via `ntile` — the bucket shape
    query optimizers and drift monitors prefer over equi-width when data
    is skewed (every bucket carries the same row count, so tails get
    resolution). Tie-broken by the key column so bucket assignment is a
    total order both engines replicate. Exact equi-depth needs a GLOBAL
    order, but not a single-partition sort: the two-phase distributed
    ntile (operators/global_order.py — approx-quantile range buckets +
    per-bucket rank offsets) produces the identical bucket assignment
    while the sort parallelizes across buckets, so this survives a
    fact-table-sized input."""
    c = table(spark, sf_dir, "customer")
    b = with_global_ntile(
        c.select("c_acctbal", "c_custkey"),
        [F.col("c_acctbal").asc(), F.col("c_custkey").asc()],
        "c_acctbal",
        8,
        out="bucket",
    ).select("c_acctbal", "bucket")
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("c_acctbal"), 2).alias("lo"),
        F.round(F.max("c_acctbal"), 2).alias("hi"),
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_bal"),
    ).select(F.col("bucket").cast("long").alias("bucket"), "n", "lo", "hi", "mean_bal")


@query(
    "stat_autocorr",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
                   AS rev
        FROM orders GROUP BY d
    ), pairs AS (
        SELECT rev AS x,
               lag(rev) OVER (ORDER BY d) AS y
        FROM daily
    )
    SELECT round(
        (count(*) * CAST(sum(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE)
         - CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE)
           * CAST(sum(CAST(y AS DECIMAL(18,4))) AS DOUBLE))
        / sqrt(
            (count(*) * CAST(sum(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE)
             - CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE)
               * CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE))
            * (count(*) * CAST(sum(CAST(y * y AS DECIMAL(28,6))) AS DOUBLE)
               - CAST(sum(CAST(y AS DECIMAL(18,4))) AS DOUBLE)
                 * CAST(sum(CAST(y AS DECIMAL(18,4))) AS DOUBLE))
          ), 6) AS lag1_autocorr,
        CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs WHERE y IS NOT NULL
    """,
)
def stat_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily revenue series — the
    time-series health check (is today predictive of tomorrow?) behind
    seasonality detection and drift alarms. Pipeline: fact-table day
    aggregate (the only big shuffle; daily revenue rounded to 4dp so
    both engines feed IDENTICAL doubles forward), a lag window over the
    DAYS-sized series (thousands of rows regardless of corpus size —
    the window sort is metadata-scale), then Pearson over (x_t,
    x_{t-1}) pairs from decimal-quantized co-moments, never float-order
    accumulation. The same shape computes any lag-k ACF: change the
    lag offset."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("rev")
    )
    # Deliberately a single-partition window: the lag is over the per-DAY
    # aggregate (time-dimension-bounded, thousands of rows at any corpus
    # size), never the fact table.
    pairs = daily.select(
        F.col("rev").alias("x"),
        F.lag("rev").over(Window.orderBy("d")).alias("y"),
    ).filter(F.col("y").isNotNull())
    n = F.count(F.lit(1))
    sx = F.sum(F.col("x").cast("decimal(18,4)")).cast("double")
    sy = F.sum(F.col("y").cast("decimal(18,4)")).cast("double")
    sxy = F.sum((F.col("x") * F.col("y")).cast("decimal(28,6)")).cast("double")
    sxx = F.sum((F.col("x") * F.col("x")).cast("decimal(28,6)")).cast("double")
    syy = F.sum((F.col("y") * F.col("y")).cast("decimal(28,6)")).cast("double")
    return pairs.agg(
        F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("lag1_autocorr"),
        n.alias("n_pairs"),
    )


@query(
    "stat_cov_matrix",
    """
    WITH s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity      AS DECIMAL(28,6))) AS DOUBLE) AS sq,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sp,
               CAST(sum(CAST(l_discount      AS DECIMAL(28,6))) AS DOUBLE) AS sd,
               CAST(sum(CAST(l_quantity * l_quantity           AS DECIMAL(38,8))) AS DOUBLE) AS sqq,
               CAST(sum(CAST(l_quantity * l_extendedprice      AS DECIMAL(38,8))) AS DOUBLE) AS sqp,
               CAST(sum(CAST(l_quantity * l_discount           AS DECIMAL(38,8))) AS DOUBLE) AS sqd,
               CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS spp,
               CAST(sum(CAST(l_extendedprice * l_discount      AS DECIMAL(38,8))) AS DOUBLE) AS spd,
               CAST(sum(CAST(l_discount * l_discount           AS DECIMAL(38,8))) AS DOUBLE) AS sdd
        FROM lineitem
    )
    SELECT var_a, var_b,
           round((sxy - sx * sy / n) / (n - 1), 4) AS cov
    FROM (
        SELECT 'quantity' AS var_a, 'quantity' AS var_b, sqq AS sxy, sq AS sx, sq AS sy, n FROM s
        UNION ALL SELECT 'quantity', 'extendedprice', sqp, sq, sp, n FROM s
        UNION ALL SELECT 'quantity', 'discount', sqd, sq, sd, n FROM s
        UNION ALL SELECT 'extendedprice', 'extendedprice', spp, sp, sp, n FROM s
        UNION ALL SELECT 'extendedprice', 'discount', spd, sp, sd, n FROM s
        UNION ALL SELECT 'discount', 'discount', sdd, sd, sd, n FROM s
    )
    """,
)
def stat_cov_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-covariance matrix (upper triangle) of three lineitem
    measures in ONE aggregate pass: all 9 co-moment sums come out of a
    single partial+final hash aggregate over one scan — never one pass
    per pair — then the 6 covariances are arithmetic on that single row,
    unpivoted with stack(). Sums are decimal-quantized so both engines
    accumulate identically (float summation order is engine-specific);
    cov = (Σxy − ΣxΣy/n)/(n−1) on exact decimals, rounded for display.
    The same shape yields the correlation matrix (divide by σ_a σ_b)."""
    li = table(spark, sf_dir, "lineitem")
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")

    def dsum(expr, prec="DECIMAL(28,6)"):
        return F.sum(expr.cast(prec)).cast("double")

    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(q).alias("sq"),
        dsum(p).alias("sp"),
        dsum(d).alias("sd"),
        dsum(q * q, "DECIMAL(38,8)").alias("sqq"),
        dsum(q * p, "DECIMAL(38,8)").alias("sqp"),
        dsum(q * d, "DECIMAL(38,8)").alias("sqd"),
        dsum(p * p, "DECIMAL(38,8)").alias("spp"),
        dsum(p * d, "DECIMAL(38,8)").alias("spd"),
        dsum(d * d, "DECIMAL(38,8)").alias("sdd"),
    )
    pairs = [
        ("quantity", "quantity", "sqq", "sq", "sq"),
        ("quantity", "extendedprice", "sqp", "sq", "sp"),
        ("quantity", "discount", "sqd", "sq", "sd"),
        ("extendedprice", "extendedprice", "spp", "sp", "sp"),
        ("extendedprice", "discount", "spd", "sp", "sd"),
        ("discount", "discount", "sdd", "sd", "sd"),
    ]
    stack_args = ", ".join(
        f"'{a}', '{b}', round(({sxy} - {sx} * {sy} / n) / (n - 1), 4)"
        for a, b, sxy, sx, sy in pairs
    )
    return s.selectExpr(
        f"stack(6, {stack_args}) AS (var_a, var_b, cov)"
    )


@query(
    "stat_psi_drift",
    """
    WITH b AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_a,
             CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS is_b,
             CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), c AS (
      SELECT bucket, sum(is_a) AS ca, sum(is_b) AS cb FROM b GROUP BY bucket
    ), t AS (
      SELECT sum(ca) AS na, sum(cb) AS nb FROM c
    )
    SELECT round(CAST(sum(CAST((ca / na - cb / nb) * ln((ca / na) / (cb / nb))
                              AS DECIMAL(28,18))) AS DOUBLE), 6) AS psi,
           CAST(count(*) AS BIGINT) AS n_buckets
    FROM c, t
    WHERE ca > 0 AND cb > 0
    """,
)
def stat_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the URGENT and LOW price
    distributions — KS's sibling and the other standard production drift
    gate (PSI < 0.1 stable, > 0.25 shifted): fixed-width price buckets,
    PSI = Σ (p−q)·ln(p/q) over jointly-populated buckets (the
    documented convention here; the epsilon-smoothing variant is a
    parameter choice, not a different plan). One conditional aggregate
    over the fact table → bucket-count-sized frame; everything after is
    metadata-scale. Exactness: bucket ids are integer floors, p and q
    are ratios of exact counts, ln is libm-bit-identical, and each term
    quantizes to DECIMAL(28,18) before the sum (agg_entropy's recipe).
    Unlike KS (which needs the distributed global-order operator for its
    CDFs), PSI never sorts anything — the cheap first-line monitor."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    c = (
        o.select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("is_a"),
            F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0).alias("is_b"),
            F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bucket"),
        )
        .groupBy("bucket")
        .agg(F.sum("is_a").alias("ca"), F.sum("is_b").alias("cb"))
    )
    t = c.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    p = F.col("ca") / F.col("na")
    q = F.col("cb") / F.col("nb")
    return (
        c.crossJoin(F.broadcast(t))
        .filter((F.col("ca") > 0) & (F.col("cb") > 0))
        .agg(
            F.round(
                F.sum(((p - q) * F.log(p / q)).cast("decimal(28,18)")).cast("double"),
                6,
            ).alias("psi"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
    )


@query(
    "stat_mann_whitney",
    """
    WITH g AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_a
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), pv AS (
      SELECT v, sum(is_a) AS ca, count(*) AS c FROM g GROUP BY v
    ), rs AS (
      SELECT *, sum(c) OVER (ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS cum FROM pv
    ), t AS (
      SELECT CAST(sum(ca * (2 * (cum - c) + c + 1)) AS DOUBLE) / 2 AS r1,
             CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(c) AS BIGINT) AS nn,
             CAST(sum(c * c * c - c) AS DOUBLE) AS ties
      FROM rs
    )
    SELECT n1 AS n_a, nn - n1 AS n_b,
           round(r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2, 1) AS u_stat,
           round((r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2
                  - CAST(n1 AS DOUBLE) * (nn - n1) / 2)
                 / sqrt(CAST(n1 AS DOUBLE) * (nn - n1) / 12
                        * ((nn + 1) - ties / (CAST(nn AS DOUBLE) * (nn - 1)))),
                 6) AS z
    FROM t
    """,
)
def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) with tie correction — the
    nonparametric two-sample location test beside the KS/t/chi2 family:
    does '1-URGENT' price-rank above '5-LOW'? Rank-based, so it needs a
    GLOBAL rank — the classic distributed-stats trap this engine solves
    once in operators/global_order.py: aggregate per distinct value
    (one shuffle), then a bucketed exact running count gives every
    value its cumulative position; no single-partition sort of the
    data, ever. Tied observations take average ranks, which the
    per-value aggregate yields in closed form: rank-sum contribution of
    group A at value v = ca·(2·cum_before + c + 1)/2 — kept as an exact
    INTEGER (×2) through the final sum, so float summation order cannot
    exist. The z-score arithmetic then runs on exact scalars with the
    same literal double expression on both engines."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    pv = (
        o.select(
            F.col("o_totalprice").alias("v"),
            (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("is_a"),
        )
        .groupBy("v")
        .agg(F.sum("is_a").alias("ca"), F.count(F.lit(1)).alias("c"))
    )
    rs = with_global_running_sums(pv, [F.col("v").asc()], "v", {"cum": "c"})
    t = rs.agg(
        (
            F.sum(
                F.col("ca") * (2 * (F.col("cum") - F.col("c")) + F.col("c") + 1)
            ).cast("double")
            / 2
        ).alias("r1"),
        F.sum("ca").cast("long").alias("n1"),
        F.sum("c").cast("long").alias("nn"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("double")
        .alias("ties"),
    )
    n1d = F.col("n1").cast("double")
    nnd = F.col("nn").cast("double")
    u = F.col("r1") - n1d * (F.col("n1") + 1) / 2
    mu = n1d * (F.col("nn") - F.col("n1")) / 2
    sigma = F.sqrt(
        n1d
        * (F.col("nn") - F.col("n1"))
        / 12
        * ((F.col("nn") + 1) - F.col("ties") / (nnd * (F.col("nn") - 1)))
    )
    return t.select(
        F.col("n1").alias("n_a"),
        (F.col("nn") - F.col("n1")).alias("n_b"),
        F.round(u, 1).alias("u_stat"),
        F.round((u - mu) / sigma, 6).alias("z"),
    )


@query(
    "stat_rolling_corr",
    """
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev,
             sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem GROUP BY 1
    ), fr AS (
      SELECT day,
             count(*) OVER w AS n,
             CAST(sum(rev) OVER w AS DOUBLE) AS sx,
             CAST(sum(qty) OVER w AS DOUBLE) AS sy,
             CAST(sum(rev * rev) OVER w AS DOUBLE) AS sxx,
             CAST(sum(qty * qty) OVER w AS DOUBLE) AS syy,
             CAST(sum(rev * qty) OVER w AS DOUBLE) AS sxy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN round((n * sxy - sx * sy)
                           / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS corr_7d
    FROM fr
    """,
)
def stat_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling Pearson correlation between daily revenue and daily
    quantity — the moving-frame co-movement monitor (is price mix
    drifting against volume this week?). NOT computed with a windowed
    corr() aggregate: the two engines' incremental corr algorithms sum
    floats in different orders. Instead the frame carries five EXACT
    DECIMAL sums (Σx, Σy, Σx², Σy², Σxy — products of quantized
    DECIMAL(18,2) values stay exact), and the textbook formula runs on
    those exact scalars in identical double arithmetic on both sides.
    The daily series is date-domain-bounded (~2.5k rows at ANY corpus
    size — it aggregates before it windows), so the single-partition
    frame window is the documented fast exact plan, not a scale
    hazard."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_shipdate").cast("date").alias("day")
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
    )

    w = Window.orderBy("day").rowsBetween(-6, 0)
    fr = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("rev").over(w).cast("double").alias("sx"),
        F.sum("qty").over(w).cast("double").alias("sy"),
        F.sum(F.col("rev") * F.col("rev")).over(w).cast("double").alias("sxx"),
        F.sum(F.col("qty") * F.col("qty")).over(w).cast("double").alias("syy"),
        F.sum(F.col("rev") * F.col("qty")).over(w).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    dx = n * F.col("sxx") - sx * sx
    dy = n * F.col("syy") - sy * sy
    num = n * F.col("sxy") - sx * sy
    return fr.select(
        "day",
        n.cast("long").alias("n"),
        F.when((dx > 0) & (dy > 0), F.round(num / F.sqrt(dx * dy), 6)).alias(
            "corr_7d"
        ),
    )


@query(
    "stat_benford",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), t AS (
      SELECT count(*) AS total FROM d
    )
    SELECT digit, count(*) AS n,
           round(count(*) / CAST(total AS DOUBLE), 6) AS obs_p,
           round(ln(1 + 1.0 / digit) / ln(10), 6) AS exp_p,
           round(power(count(*) / CAST(total AS DOUBLE)
                       - ln(1 + 1.0 / digit) / ln(10), 2)
                 / (ln(1 + 1.0 / digit) / ln(10)), 6) AS chi2_term
    FROM d, t GROUP BY digit, total
    """,
)
def stat_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen — the classic fraud/data-quality gate
    on monetary columns: observed leading-digit frequencies vs the
    log10(1+1/d) law, with per-digit chi-square contributions. The
    digit comes from the DECIMAL(18,2) string form, NOT from
    floor(x/10^floor(log10 x)): exact powers of ten sit on a log10
    rounding boundary where the two engines' libm could disagree by one
    ULP and bucket a value into digit 10; string extraction of a
    quantized decimal is engine-stable by construction. exp_p is
    ln(1+1/d)/ln(10) on BOTH engines (ln is verified bit-identical;
    log10 intrinsics are not). One conditional aggregate over a single
    scan + a broadcast total — no sort, map-side combinable."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    t = d.agg(F.count(F.lit(1)).alias("total"))
    obs = F.col("n") / F.col("total").cast("double")
    exp = F.log(1 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.round(obs, 6).alias("obs_p"),
            F.round(exp, 6).alias("exp_p"),
            F.round(F.pow(obs - exp, 2) / exp, 6).alias("chi2_term"),
        )
    )


@query(
    "stat_cuped",
    """
    WITH per AS (
      SELECT o_custkey AS k, o_custkey % 2 AS arm,
             sum(CASE WHEN o_orderdate >= DATE '1995-01-01'
                       AND o_orderdate < DATE '1996-01-01'
                      THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS x,
             sum(CASE WHEN o_orderdate >= DATE '1996-01-01'
                       AND o_orderdate < DATE '1997-01-01'
                      THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS y
      FROM orders GROUP BY o_custkey
    ), mo AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x*x) AS DOUBLE) AS sxx,
             CAST(sum(x*y) AS DOUBLE) AS sxy
      FROM per
    )
    SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS mean_y,
           round(CAST(sum(y) AS DOUBLE) / count(*)
                 - ((mo.n * mo.sxy - mo.sx * mo.sy)
                    / (mo.n * mo.sxx - mo.sx * mo.sx))
                   * (CAST(sum(x) AS DOUBLE) / count(*) - mo.sx / mo.n), 6)
             AS mean_y_cuped
    FROM per, mo GROUP BY arm, mo.n, mo.sx, mo.sy, mo.sxx, mo.sxy
    """,
)
def stat_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction — the standard experimentation
    adjustment: subtract θ·(covariate − its mean) from each unit's
    metric, with θ = cov(x,y)/var(x) learned from pre-period data
    (first-year spend as covariate, second-year spend as metric,
    custkey parity as the arm). Exactness: per-unit x/y are DECIMAL sums, the moments are
    sums of DECIMAL products cast to double ONCE, and θ plus both
    adjusted means are then identical double arithmetic on both
    engines. Shape: one per-unit aggregate (shuffle on custkey), one
    broadcast one-row moment frame, one per-arm aggregate — the same
    plan at 1e9 units."""
    o = table(spark, sf_dir, "orders")
    in_year = lambda y: (  # noqa: E731
        (F.col("o_orderdate") >= F.lit(f"{y}-01-01"))
        & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01"))
    )
    price = F.col("o_totalprice").cast("decimal(18,2)")
    per = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.sum(F.when(in_year(1995), price).otherwise(F.lit(0).cast("decimal(18,2)"))).alias("x"),
        F.sum(F.when(in_year(1996), price).otherwise(F.lit(0).cast("decimal(18,2)"))).alias("y"),
    ).withColumn("arm", F.pmod("k", F.lit(2)))
    mo = per.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    arm = per.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("y").cast("double").alias("ay"),
        F.sum("x").cast("double").alias("ax"),
    )
    theta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    mean_y = F.col("ay") / F.col("n_users")
    mean_x = F.col("ax") / F.col("n_users")
    return arm.crossJoin(F.broadcast(mo)).select(
        "arm",
        F.col("n_users").cast("long"),
        F.round(mean_y, 6).alias("mean_y"),
        F.round(
            mean_y - theta * (mean_x - F.col("sx") / F.col("n")), 6
        ).alias("mean_y_cuped"),
    )


@query(
    "stat_survival_km",
    """
    WITH life AS (
      SELECT o_custkey,
             date_diff('day', min(o_orderdate), max(o_orderdate)) AS dur,
             CASE WHEN max(o_orderdate) < DATE '1998-01-01'
                  THEN 1 ELSE 0 END AS ev
      FROM orders GROUP BY o_custkey
    ), byd AS (
      SELECT dur, sum(ev) AS d, count(*) AS c FROM life GROUP BY dur
    ), risk AS (
      SELECT dur, d,
             sum(c) OVER (ORDER BY dur DESC
                          ROWS UNBOUNDED PRECEDING) AS n_risk
      FROM byd
    ), terms AS (
      SELECT dur, d, n_risk,
             CASE WHEN d = n_risk THEN NULL
                  ELSE CAST(ln(1 - CAST(d AS DOUBLE) / n_risk)
                            AS DECIMAL(28,18)) END AS t,
             CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dead
      FROM risk
    )
    SELECT dur AS duration_days,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS d_events,
           CASE WHEN max(dead) OVER (ORDER BY dur
                                     ROWS UNBOUNDED PRECEDING) = 1 THEN 0.0
                ELSE round(exp(CAST(sum(t) OVER (ORDER BY dur
                                  ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6)
           END AS survival
    FROM terms
    """,
)
def stat_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over customer lifetimes — the
    censoring-aware estimator behind every churn/retention curve.
    Lifetime = days between a customer's first and last order; the
    event (churn observed) fires when the last order predates 1998,
    otherwise the lifetime is right-censored at the horizon. At each
    distinct duration t: n_risk = customers with duration >= t (a
    DESC-ordered running sum over the per-duration counts), d = events
    exactly at t, and S(t) multiplies in (1 - d/n_risk) — computed as
    exp of a running sum of ln terms, each term quantized to
    DECIMAL(28,18) BEFORE summing so the accumulation is
    order-insensitive and engine-exact (the agg_entropy discipline).
    d = n_risk zeroes the curve from there on — guarded explicitly
    rather than routed through ln(0).

    Scale shape: one shuffle (per-customer aggregate), one tiny
    per-duration aggregate, then global windows over AT MOST one row
    per distinct duration — bounded by the date-range span in days
    (~2.4k), NOT by row count, at any SF. Same class as the
    histogram/global-order ops."""
    o = table(spark, sf_dir, "orders")
    life = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias("dur"),
        F.when(F.max("o_orderdate") < F.lit("1998-01-01"), 1)
        .otherwise(0)
        .alias("ev"),
    )
    byd = life.groupBy("dur").agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("c")
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_asc = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = byd.withColumn("n_risk", F.sum("c").over(w_desc))
    terms = risk.withColumn(
        "t",
        F.when(F.col("d") == F.col("n_risk"), F.lit(None)).otherwise(
            F.log(1 - F.col("d").cast("double") / F.col("n_risk")).cast(
                "decimal(28,18)"
            )
        ),
    ).withColumn("dead", F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0))
    return terms.select(
        F.col("dur").alias("duration_days"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("d_events"),
        F.when(F.max("dead").over(w_asc) == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum("t").over(w_asc).cast("double")), 6))
        .alias("survival"),
    )


@query(
    "stat_changepoint",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_orderdate
    ), c AS (
      SELECT day,
             abs(CAST(sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                      AS DOUBLE)
                 - CAST(row_number() OVER (ORDER BY day) AS DOUBLE)
                   * (CAST(sum(x) OVER () AS DOUBLE) / count(*) OVER ()))
               AS cusum_abs,
             count(*) OVER () AS n_days
      FROM daily
    )
    SELECT day AS changepoint_day, round(cusum_abs, 2) AS cusum_abs,
           CAST(n_days AS BIGINT) AS n_days
    FROM c ORDER BY round(cusum_abs, 2) DESC, day LIMIT 1
    """,
)
def stat_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily-revenue series — where
    did the level shift? The classic offline estimator: center the
    series on its mean, cumulative-sum, and the |CUSUM| argmax is the
    most likely single changepoint (AMOC). Exactness: daily totals and
    their running sum are DECIMAL (exact, order-insensitive); the one
    double conversion happens on the finished sums, and rn·mu is then
    identical IEEE arithmetic on both engines. The argmax orders by the
    ROUNDED statistic with the day as total tie-break.

    Scale shape: one shuffle (per-day aggregate), then global windows
    over one row per distinct day — bounded by the calendar span
    (~2.4k rows at any SF), the histogram-op class. The raw scan is the
    only data-sized stage."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    w_run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = daily.select(
        F.col("day").alias("changepoint_day"),
        F.round(
            F.abs(
                F.sum("x").over(w_run).cast("double")
                - F.row_number().over(Window.orderBy("day")).cast("double")
                * (F.sum("x").over(w_all).cast("double")
                   / F.count(F.lit(1)).over(w_all))
            ),
            2,
        ).alias("cusum_abs"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_days"),
    )
    return c.orderBy(F.col("cusum_abs").desc(), "changepoint_day").limit(1)


_BOOT_B = 64  #: bootstrap replicates


#: Poisson(1) CDF cut points: P(0), P(0..1), P(0..2) — weights 3+ pooled.
_BOOT_CDF = (0.367879441, 0.735758882, 0.919698603)


#: The same cut points as integer thresholds on the raw 31-bit hash:
#: u < cdf  ⟺  h < floor(cdf·2^31)+1 (h is an integer; cdf·2^31 is not).
#: Integer compares keep the whole weight expression in long arithmetic —
#: measured 4.3× faster than the CASE-on-double form at 20M rows
#: (30.7 s → 7.1 s with the long-cents metric, tools/scale_smoke.py).
_BOOT_T = tuple(int(c * 2147483648) + 1 for c in _BOOT_CDF)


def _boot_weight_sql(key_sql: str, r: int) -> str:
    """Deterministic Poisson(1)-ish resample weight for (row key, rep r).

    A multiplicative-hash draw — (key·1103515245 + (r+1)·2654435761)
    mod 2^31 — compared against the Poisson(1) CDF as integer
    thresholds, summed: w = [h≥T0] + [h≥T1] + [h≥T2] ∈ {0,1,2,3}. Pure
    BIGINT arithmetic end to end: bit-identical in any engine, which is
    what lets the oracle replay the 'randomness'. SQL text, so the 64
    replicates' weights parse in one py4j call each."""
    h = (
        f"pmod({key_sql} * 1103515245L + {(r + 1) * 2654435761}L, "
        "2147483648L)"
    )
    return (
        f"(CAST({h} >= {_BOOT_T[0]}L AS BIGINT) "
        f"+ CAST({h} >= {_BOOT_T[1]}L AS BIGINT) "
        f"+ CAST({h} >= {_BOOT_T[2]}L AS BIGINT))"
    )


@query(
    "stat_bootstrap_ci",
    f"""
    WITH w AS (
      SELECT r,
             CAST(h >= {_BOOT_T[0]} AS BIGINT)
               + CAST(h >= {_BOOT_T[1]} AS BIGINT)
               + CAST(h >= {_BOOT_T[2]} AS BIGINT) AS w,
             xc
      FROM (
        SELECT r,
               (o_orderkey * 1103515245 + (r+1) * 2654435761)
                % 2147483648 AS h,
               CAST(round(o_totalprice * 100) AS BIGINT) AS xc
        FROM orders, (SELECT unnest(range({_BOOT_B})) AS r)
      )
    ), per AS (
      SELECT r, CAST(sum(w * xc) AS DOUBLE) / sum(w) / 100.0 AS m
      FROM w GROUP BY r
    )
    SELECT CAST(count(*) AS BIGINT) AS n_reps,
           round(percentile_cont(0.025) WITHIN GROUP (ORDER BY m), 4)
             AS mean_lo,
           round(percentile_cont(0.975) WITHIN GROUP (ORDER BY m), 4)
             AS mean_hi,
           (SELECT round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                              AS DOUBLE) / count(*) / 100.0, 4) FROM orders)
             AS mean_point
    FROM per
    """,
)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order value —
    THE distributed bootstrap: instead of resampling n rows with
    replacement (which needs global coordination), each row draws an
    independent Poisson(1) replicate count per rep, which converges to
    the same resample distribution and never leaves the row (Chamandy
    et al., 'Estimating Uncertainty for Massive Data Streams', the
    pattern behind every large-scale A/B platform's CIs). Randomness is
    a deterministic multiplicative hash of (orderkey, rep) so the
    oracle replays it exactly; the metric rides as exact integer CENTS
    (round(price·100) — prices carry 2 decimals by construction), so
    every per-rep sum is pure long arithmetic, and the 2.5/97.5
    percentiles interpolate over B=64 identical doubles. (Cents sums
    stay inside int64 up to ~10^11 rows × weight 3 × $10^5 — past any
    realistic SF; DECIMAL is the escape hatch beyond.)

    Scale shape: the Spark side compiles ALL reps into ONE aggregate
    pass — 2·B partial-agg expressions (sum(w·cents), sum(w) per rep),
    no row explosion, no shuffle beyond the single-row merge; the rep
    means then posexplode from one row. The oracle's rows×B cross join
    is the readable equivalent, not the executed plan. At 100 TB this
    is one scan + 128 long-typed running partials per task (7.1 s for
    20M rows × 64 reps on local[32], tools/scale_smoke.py --big)."""
    o = table(spark, sf_dir, "orders")
    # The 2·B+2 aggregate expressions and the B rep-mean array are
    # parsed SQL: the Column-DSL form cost ~3.5 s of py4j plan
    # construction per call.
    xc_sql = "CAST(round(o_totalprice * 100) AS BIGINT)"
    aggs = []
    for r in range(_BOOT_B):
        w = _boot_weight_sql("o_orderkey", r)
        aggs.append(f"sum({w} * {xc_sql}) AS s{r}")
        aggs.append(f"sum({w}) AS n{r}")
    aggs.append(f"sum({xc_sql}) AS sx")
    aggs.append("count(1) AS nx")
    one = o.groupBy().agg(*[F.expr(a) for a in aggs])
    means = one.selectExpr(
        "explode(array("
        + ", ".join(
            f"CAST(s{r} AS DOUBLE) / n{r} / 100.0D" for r in range(_BOOT_B)
        )
        + ")) AS m",
        "CAST(sx AS DOUBLE) / nx / 100.0D AS point",
    )
    return means.agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.round(F.percentile("m", F.lit(0.025)), 4).alias("mean_lo"),
        F.round(F.percentile("m", F.lit(0.975)), 4).alias("mean_hi"),
        F.round(F.first("point"), 4).alias("mean_point"),
    )


@query(
    "stat_seasonal_decompose",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_orderdate
    ), t AS (
      SELECT day, x,
             CAST(sum(x) OVER w7 AS DOUBLE) / count(*) OVER w7 AS trend,
             count(*) OVER w7 AS nwin
      FROM daily
      WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT dayofweek(day) AS dow,
           round(CAST(sum(CAST(CAST(x AS DOUBLE) - trend
                                AS DECIMAL(28,10))) AS DOUBLE)
                 / count(*), 2) AS seasonal,
           CAST(count(*) AS BIGINT) AS n_days
    FROM t WHERE nwin = 7
    GROUP BY dayofweek(day)
    """,
)
def stat_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (additive, weekly): detrend the
    daily-revenue series with a centered 7-day moving average, then the
    seasonal index per weekday is the mean residual — the
    moving-average step of STL, which is what 'is Tuesday really our
    big day or is that just growth' actually asks. Exactness: the MA is
    an exact DECIMAL window sum divided by an exact count (one double
    conversion, no subtract-on-slide drift — DuckDB's segment-tree
    window aggregation regroups float additions, DECIMAL is immune);
    each residual quantizes to DECIMAL(28,10) before the per-weekday
    sum so accumulation order can't matter. Edge days without a full
    7-row frame are excluded (textbook centered MA).

    Scale shape: one shuffle to the per-day aggregate, then windows
    over one row per calendar day (~2.4k at any SF) — histogram-class.
    Weekday numbering aligned to DuckDB's Sunday=0 by shifting Spark's
    Sunday=1."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "x",
        (F.sum("x").over(w7).cast("double") / F.count(F.lit(1)).over(w7)
         ).alias("trend"),
        F.count(F.lit(1)).over(w7).alias("nwin"),
    ).filter(F.col("nwin") == 7)
    resid = (F.col("x").cast("double") - F.col("trend")).cast("decimal(28,10)")
    return t.groupBy((F.dayofweek("day") - 1).alias("dow")).agg(
        F.round(F.sum(resid).cast("double") / F.count(F.lit(1)), 2).alias(
            "seasonal"
        ),
        F.count(F.lit(1)).alias("n_days"),
    )


@query(
    "stat_qq",
    """
    WITH q AS (
      SELECT percentile_cont([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
               WITHIN GROUP (ORDER BY CASE WHEN o_orderpriority = '1-URGENT'
                                           THEN o_totalprice END) AS qa,
             percentile_cont([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
               WITHIN GROUP (ORDER BY CASE WHEN o_orderpriority = '5-LOW'
                                           THEN o_totalprice END) AS qb
      FROM orders
    )
    SELECT i AS decile, round(qa[i], 2) AS q_urgent, round(qb[i], 2) AS q_low,
           round(qa[i] / qb[i], 4) AS qq_ratio
    FROM q, (SELECT unnest(range(1, 10)) AS i)
    """,
)
def stat_qq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q (quantile-quantile) comparison of two order-price
    distributions — the distribution-shift diagnostic that answers
    'same shape, different scale, or different shape?' where a mean
    comparison answers nothing. Both deciles vectors come from ONE
    aggregate pass (conditional-NULL metric: aggregates skip NULLs, so
    each percentile sees only its segment — no second scan, no join);
    the 9-point curve then posexplodes from a single row. Exact
    percentile interpolation is identical IEEE arithmetic on both
    engines (the agg_percentile precedent); at 100 TB the substitute
    is percentile_approx on the same shape."""
    o = table(spark, sf_dir, "orders")
    ps = [i / 10 for i in range(1, 10)]
    ua = F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice"))
    lb = F.when(F.col("o_orderpriority") == "5-LOW", F.col("o_totalprice"))
    q = o.agg(
        F.percentile(ua, F.lit(ps)).alias("qa"),
        F.percentile(lb, F.lit(ps)).alias("qb"),
    )
    z = q.select(F.posexplode(F.arrays_zip("qa", "qb")))
    return z.select(
        (F.col("pos") + 1).cast("int").alias("decile"),
        F.round(F.col("col.qa"), 2).alias("q_urgent"),
        F.round(F.col("col.qb"), 2).alias("q_low"),
        F.round(F.col("col.qa") / F.col("col.qb"), 4).alias("qq_ratio"),
    )


@query(
    "stat_pareto",
    """
    WITH rev AS (
      SELECT o_custkey AS k,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY o_custkey
    ), rk AS (
      SELECT k, r, ntile(10) OVER (ORDER BY r DESC, k) AS decile FROM rev
    ), d AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
             sum(r) AS drev
      FROM rk GROUP BY decile
    )
    SELECT decile, n_customers,
           round(CAST(drev AS DOUBLE)
                 / CAST(sum(drev) OVER () AS DOUBLE), 6) AS rev_share,
           round(CAST(sum(drev) OVER (ORDER BY decile
                                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / CAST(sum(drev) OVER () AS DOUBLE), 6) AS cum_share
    FROM d
    """,
)
def stat_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / revenue-concentration curve — 'the top 10% of customers
    carry what share of revenue?', the whale-detection readout behind
    every account-tiering decision. Customers rank into revenue deciles
    with the BUCKETED global-order machinery (`with_global_ntile` —
    boundaries from a data-sized sample, per-bucket windows, never one
    global partition over the fact-scale customer set; the driving key
    is the negated revenue to honor the ascending-bucket contract).
    Everything after the decile assignment operates on ≤ 10 rows.
    DECIMAL revenue end to end; doubles appear only in the final share
    divisions."""
    o = table(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r")
    ).withColumn("rneg", -F.col("r"))
    rk = with_global_ntile(
        rev, [F.col("rneg").asc(), F.col("k").asc()], "rneg", 10,
        out="decile",
    )
    d = rk.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"), F.sum("r").alias("drev")
    )

    w_all = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_run = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = F.sum("drev").over(w_all).cast("double")
    return d.select(
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        F.round(F.col("drev").cast("double") / tot, 6).alias("rev_share"),
        F.round(F.sum("drev").over(w_run).cast("double") / tot, 6).alias(
            "cum_share"
        ),
    )


@query(
    "stat_anova",
    """
    WITH g AS (
      SELECT o_orderpriority,
             count(*) AS n_g,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s_g,
             sum(CAST(o_totalprice AS DECIMAL(18,2))
                 * CAST(o_totalprice AS DECIMAL(18,2))) AS ss_g
      FROM orders GROUP BY o_orderpriority
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS DOUBLE) AS s,
             CAST(sum(CAST(ss_g AS DECIMAL(38,6))) AS DOUBLE) AS ss,
             CAST(sum(CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g
                           AS DECIMAL(38,6))) AS DOUBLE) AS sq
      FROM g
    )
    SELECT k, n,
           round((sq - s * s / n) / (k - 1)
                 / ((ss - sq) / (n - k)), 6) AS f_stat,
           round((sq - s * s / n) / (ss - s * s / n), 6) AS eta_sq
    FROM m
    """,
)
def stat_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the five order priorities — does ANY group
    mean differ? (the k-group generalization of `stat_ttest`; the
    F-statistic and effect size η² every experiment readout with >2
    arms needs). Sufficient statistics only: per-group (n, Σx, Σx²) as
    exact DECIMAL sums in ONE aggregate pass, then a 5-row metadata
    re-aggregate — between/within sums of squares never touch
    individual rows again. The per-group double terms (s_g²/n_g)
    quantize to DECIMAL(38,6) before the cross-group sum so
    accumulation order can't matter (the agg_entropy discipline).
    Shape: one shuffle, everything after is ≤ k rows at any SF."""
    o = table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(x).alias("s_g"),
        F.sum(x * x).alias("ss_g"),
    )
    m = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("double").alias("s"),
        F.sum(F.col("ss_g").cast("decimal(38,6)")).cast("double").alias("ss"),
        F.sum(
            (F.col("s_g").cast("double") * F.col("s_g").cast("double")
             / F.col("n_g")).cast("decimal(38,6)")
        ).cast("double").alias("sq"),
    )
    ssb = F.col("sq") - F.col("s") * F.col("s") / F.col("n")
    ssw = F.col("ss") - F.col("sq")
    sst = F.col("ss") - F.col("s") * F.col("s") / F.col("n")
    return m.select(
        "k",
        "n",
        F.round(ssb / (F.col("k") - 1) / (ssw / (F.col("n") - F.col("k"))),
                6).alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_sq"),
    )


@query(
    "stat_powerlaw",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT u AS node, count(*) AS d FROM (
        SELECT u FROM e UNION ALL SELECT v FROM e
      ) t(u) GROUP BY u
    )
    SELECT CAST(count(*) AS BIGINT) AS n_tail,
           CAST(min(d) AS BIGINT) AS d_min,
           round(1.0 + count(*) / CAST(sum(CAST(ln(CAST(d AS DOUBLE) / 4)
                                               AS DECIMAL(28,18)))
                                        AS DOUBLE), 6) AS alpha
    FROM deg WHERE d > 4
    """,
)
def stat_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law (Pareto) exponent of the co-purchase degree tail via
    the Hill/Clauset MLE — α = 1 + n / Σ ln(d/d_min) over degrees above
    the cutoff — the quantitative follow-up to
    `graph_degree_distribution`'s 'is it heavy-tailed?' (α ≈ 2–3 is the
    scale-free regime; the estimate drives hub-skew planning). Each ln
    term quantizes to DECIMAL(28,18) before summation (order-immune,
    engine-exact); the tail is strictly above the cutoff so no ln(1)=0
    degeneracy inflates n. Two aggregates over the edge list; the MLE
    itself is a one-row re-aggregate."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    e = a.join(b, "o").filter(F.col("u") < F.col("v")).select("u", "v").distinct()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d_min = 4
    tail = deg.filter(F.col("d") > d_min)
    return tail.agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.min("d").cast("long").alias("d_min"),
        F.round(
            1.0
            + F.count(F.lit(1))
            / F.sum(
                F.log(F.col("d").cast("double") / d_min).cast("decimal(28,18)")
            ).cast("double"),
            6,
        ).alias("alpha"),
    )


@query(
    "stat_control_chart",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_orderdate
    ), m AS (
      SELECT day, CAST(x AS DOUBLE) AS xd,
             CAST(sum(x) OVER () AS DOUBLE) / count(*) OVER () AS mu,
             count(*) OVER () AS n,
             CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                           AS DECIMAL(38,6))) OVER () AS DOUBLE) AS sxx
      FROM daily
    )
    SELECT day, round(xd, 2) AS revenue,
           round((xd - mu) / sqrt((sxx - mu * mu * n) / (n - 1)), 4)
             AS z_score,
           CASE WHEN abs(xd - mu)
                     > 3 * sqrt((sxx - mu * mu * n) / (n - 1))
                THEN 1 ELSE 0 END AS out_of_control
    FROM m
    WHERE abs(xd - mu) > 3 * sqrt((sxx - mu * mu * n) / (n - 1))
    """,
)
def stat_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart control chart over daily revenue — the online process-
    monitoring counterpart to `stat_changepoint`'s offline argmax:
    flag every day outside mean ± 3σ control limits (the page-one SPC
    rule, and the simplest useful production alert). Sufficient
    statistics via windows over the per-day aggregate (Σx exact
    DECIMAL; each x² term DECIMAL-quantized before the window sum, the
    cross-engine summation discipline); z-scores and limits are then
    identical double arithmetic. Calendar-bounded windows — one
    data-sized stage (the scan + per-day aggregate), everything after
    runs on ≤ span rows."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    xd = F.col("x").cast("double")
    m = daily.select(
        "day",
        xd.alias("xd"),
        (F.sum("x").over(w_all).cast("double")
         / F.count(F.lit(1)).over(w_all)).alias("mu"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum((xd * xd).cast("decimal(38,6)")).over(w_all).cast("double")
        .alias("sxx"),
    )
    sd = F.sqrt(
        (F.col("sxx") - F.col("mu") * F.col("mu") * F.col("n"))
        / (F.col("n") - 1)
    )
    return m.filter(F.abs(F.col("xd") - F.col("mu")) > 3 * sd).select(
        "day",
        F.round("xd", 2).alias("revenue"),
        F.round((F.col("xd") - F.col("mu")) / sd, 4).alias("z_score"),
        F.when(F.abs(F.col("xd") - F.col("mu")) > 3 * sd, 1)
        .otherwise(0).alias("out_of_control"),
    )


@query(
    "stat_proportion_ztest",
    """
    WITH s AS (
      SELECT
        count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH'))
          AS n1,
        count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH')
                         AND o_orderstatus = 'F') AS x1,
        count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
          AS n2,
        count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         AND o_orderstatus = 'F') AS x2
      FROM orders
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
           CAST(n2 AS BIGINT) AS n2, CAST(x2 AS BIGINT) AS x2,
           round(CAST(x1 AS DOUBLE) / n1, 6) AS p1,
           round(CAST(x2 AS DOUBLE) / n2, 6) AS p2,
           round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                 / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 6) AS z
    FROM s
    """,
)
def stat_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test — the conversion-rate A/B gate
    (`stat_ttest` is its means sibling, `stat_chi2` its k-way cousin):
    does the high-priority arm finalize orders at a different rate? All
    four sufficient statistics (n, successes per arm) come from ONE
    conditional-count aggregate pass; p1, p2, the pooled p and the z
    statistic are pure scalar arithmetic on them. Double determinism:
    every input is an exact int64 count, each derived term is written
    with the identical operation tree in both engines (single divisions,
    left-associated products, one correctly-rounded sqrt), so the
    rounded z matches bit-for-bit.

    Scale shape: one map-side-combined aggregate to a single row —
    min-possible cost at any SF; no shuffle beyond the 1-row final."""
    o = table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    succ = F.col("o_orderstatus") == "F"
    s = o.agg(
        F.count_if(hi).alias("n1"),
        F.count_if(hi & succ).alias("x1"),
        F.count_if(~hi).alias("n2"),
        F.count_if(~hi & succ).alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    se = F.sqrt(
        pp * (F.lit(1) - pp)
        * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    return s.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("x1").cast("long").alias("x1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("x2").cast("long").alias("x2"),
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round((p1 - p2) / se, 6).alias("z"),
    )


@query(
    "stat_mutual_info",
    """
    WITH joint AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y, count(*) AS c
      FROM orders GROUP BY 1, 2
    ), mx AS (
      SELECT x, sum(c) AS cx FROM joint GROUP BY x
    ), my AS (
      SELECT y, sum(c) AS cy FROM joint GROUP BY y
    ), n AS (
      SELECT sum(c) AS n FROM joint
    )
    SELECT CAST(max(n.n) AS BIGINT) AS n,
           round(CAST(sum(CAST((CAST(c AS DOUBLE) / n.n)
                     * ln(CAST(c * n.n AS DOUBLE) / (cx * cy))
                     AS DECIMAL(28,18))) AS DOUBLE), 6) AS mi_nats,
           round(CAST(sum(CAST(-(CAST(c AS DOUBLE) / n.n)
                     * ln(CAST(c AS DOUBLE) / n.n)
                     AS DECIMAL(28,18))) AS DOUBLE), 6) AS h_joint
    FROM joint
    JOIN mx USING (x) JOIN my USING (y) CROSS JOIN n
    """,
)
def stat_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between order priority and order
    status, plus the joint entropy — the feature-selection /
    dependence-detection primitive (`stat_chi2` tests the same
    independence; MI QUANTIFIES it in bits-like units, and is what
    ranks features for a classifier). One hash aggregate to the joint
    contingency table (≤ |X|·|Y| rows — metadata scale), marginals and
    the total re-aggregated FROM the joint (no second pass over the
    fact table), then Σ p·ln(p_xy/(p_x·p_y)) with each ln term
    DECIMAL(28,18)-quantized before summation (the stat_powerlaw/
    agg_entropy discipline: the ln argument is one double division of
    exact int64 products, identical in both engines; quantization
    removes any summation-order sensitivity).

    Scale shape: one map-side-combined shuffle to ≤ 15 cells; every
    join after it is cell-count-sized."""
    o = table(spark, sf_dir, "orders")
    joint = o.groupBy(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    ).agg(F.count(F.lit(1)).alias("c"))
    mx = joint.groupBy("x").agg(F.sum("c").alias("cx"))
    my = joint.groupBy("y").agg(F.sum("c").alias("cy"))
    n = joint.agg(F.sum("c").alias("n"))
    t = (
        joint.join(mx, "x")
        .join(my, "y")
        .crossJoin(F.broadcast(n))
    )
    p = F.col("c").cast("double") / F.col("n")
    mi_term = (
        p
        * F.log(
            (F.col("c") * F.col("n")).cast("double")
            / (F.col("cx") * F.col("cy"))
        )
    ).cast("decimal(28,18)")
    h_term = (-p * F.log(p)).cast("decimal(28,18)")
    return t.agg(
        F.max("n").cast("long").alias("n"),
        F.round(F.sum(mi_term).cast("double"), 6).alias("mi_nats"),
        F.round(F.sum(h_term).cast("double"), 6).alias("h_joint"),
    )


def _frank2(df: DataFrame, col: str, out: str) -> DataFrame:
    """(value, 2·fractional-rank) for ``col``: the tie-averaged rank used
    by Spearman's rho, doubled so it stays an exact integer (ties average
    to halves). frank = cnt_less + (cnt+1)/2, so 2·frank = 2·cnt_le −
    cnt + 1 where cnt_le is the inclusive running count over the value
    order. Runs on the DISTINCT-VALUE aggregate (vocabulary-scale, not
    row-scale) and uses the bucketed global running sum
    (operators/global_order.py) so the value table itself never forces a
    single-partition window at 100 TB."""
    vals = df.groupBy(F.col(col).alias("__v")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    ranked = GO.with_global_running_sums(
        vals, [F.col("__v")], "__v", {"__cle": "__cnt"}
    )
    return ranked.select(
        F.col("__v").alias(col),
        (F.lit(2) * F.col("__cle") - F.col("__cnt") + F.lit(1))
        .cast("decimal(19,0)")
        .alias(out),
    )


@query(
    "stat_spearman",
    """
    WITH rx AS (
      SELECT x, 2 * sum(cnt) OVER (ORDER BY x) - cnt + 1 AS rx2
      FROM (SELECT l_quantity AS x, count(*) AS cnt
            FROM lineitem GROUP BY 1)
    ), ry AS (
      SELECT y, 2 * sum(cnt) OVER (ORDER BY y) - cnt + 1 AS ry2
      FROM (SELECT l_extendedprice AS y, count(*) AS cnt
            FROM lineitem GROUP BY 1)
    ), j AS (
      SELECT rx2, ry2
      FROM lineitem
      JOIN rx ON l_quantity = rx.x
      JOIN ry ON l_extendedprice = ry.y
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(rx2) AS DOUBLE) AS sx,
             CAST(sum(ry2) AS DOUBLE) AS sy,
             CAST(sum(rx2 * rx2) AS DOUBLE) AS sxx,
             CAST(sum(ry2 * ry2) AS DOUBLE) AS syy,
             CAST(sum(rx2 * ry2) AS DOUBLE) AS sxy
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                 6) AS rho_spearman
    FROM s
    """,
)
def stat_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (tie-corrected) between quantity and
    extended price — the robust, monotone-invariant complement to the
    Pearson family (`agg_corr`, `stat_rolling_corr`): outliers can't
    dominate because values enter only through their ranks.

    Exactness across engines: fractional ranks are half-integers, so we
    carry 2·rank as exact integers; all five sufficient statistics are
    exact DECIMAL/hugeint sums; the only float math is one shared final
    expression over identical doubles, rounded to 6.

    Scale shape: ranks are computed on the DISTINCT-VALUE aggregates
    (quantity: 50 values; price: bounded by the price book, ≪ rows),
    each via the bucketed global running sum — no row-scale global
    window anywhere. The rank joins are equi-joins Catalyst broadcasts
    when the value table is small; the final reduce is a single
    6-column aggregate."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice"
    )
    rx = _frank2(li, "l_quantity", "rx2")
    ry = _frank2(li, "l_extendedprice", "ry2")
    j = li.join(rx, "l_quantity").join(ry, "l_extendedprice")
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        F.round(
            (nd * sxy - sx * sy)
            / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)),
            6,
        ).alias("rho_spearman"),
    )


@query(
    "stat_binomial_ci",
    """
    WITH g AS (
      SELECT o_orderpriority AS grp, count(*) AS n,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS k
      FROM orders GROUP BY 1
    )
    SELECT grp, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
           round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                  + 1.9208 / CAST(n AS DOUBLE)
                  - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                        * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                        / CAST(n AS DOUBLE)
                        + 0.9604 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                 / (1 + 3.8416 / CAST(n AS DOUBLE)), 6) AS wilson_lo,
           round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                  + 1.9208 / CAST(n AS DOUBLE)
                  + 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                        * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                        / CAST(n AS DOUBLE)
                        + 0.9604 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                 / (1 + 3.8416 / CAST(n AS DOUBLE)), 6) AS wilson_hi
    FROM g
    """,
)
def stat_binomial_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score 95% confidence interval for a proportion, per
    group — the interval that stays inside [0,1] and behaves at small n
    or extreme rates where the naive Wald interval collapses (the
    dashboard statistic for any conversion/failure-rate metric;
    `stat_proportion_ztest` compares two groups, this bounds each).
    Constants are pre-folded literals of z=1.96 (z²=3.8416, z²/2=1.9208,
    z²/4=0.9604) so both engines evaluate the identical expression tree
    over exact integer (n, k) — one conditional aggregate per group,
    map-side combinable, then metadata-scale scalar math, round 6."""
    o = table(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("o_orderstatus") == "F").alias("k"),
    )
    nd, kd = F.col("n").cast("double"), F.col("k").cast("double")
    p = kd / nd
    half = F.lit(1.96) * F.sqrt(
        p * (F.lit(1.0) - p) / nd + F.lit(0.9604) / (nd * nd)
    )
    center = p + F.lit(1.9208) / nd
    denom = F.lit(1.0) + F.lit(3.8416) / nd
    return g.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


@query(
    "stat_kendall_tau",
    """
    WITH cells AS (
      SELECT l_quantity AS x, l_linenumber AS y, count(*) AS n
      FROM lineitem GROUP BY 1, 2
    ), cd AS (
      SELECT sum(CASE WHEN b.y > a.y THEN a.n * b.n ELSE 0 END) AS conc,
             sum(CASE WHEN b.y < a.y THEN a.n * b.n ELSE 0 END) AS disc
      FROM cells a JOIN cells b ON b.x > a.x
    ), m AS (
      SELECT sum(n) AS nn,
             sum(n * (n - 1) / 2) FILTER (WHERE TRUE) AS _unused
      FROM cells
    ), t AS (
      SELECT (SELECT sum(n) FROM cells) AS nn,
             (SELECT sum(tn * (tn - 1) / 2) FROM (
                SELECT sum(n) AS tn FROM cells GROUP BY x)) AS n1,
             (SELECT sum(tn * (tn - 1) / 2) FROM (
                SELECT sum(n) AS tn FROM cells GROUP BY y)) AS n2
    )
    SELECT CAST(nn AS BIGINT) AS n_rows,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           round(CAST(conc - disc AS DOUBLE)
                 / sqrt(CAST(nn * (nn - 1) / 2 - n1 AS DOUBLE)
                        * CAST(nn * (nn - 1) / 2 - n2 AS DOUBLE)),
                 6) AS tau_b
    FROM cd CROSS JOIN t
    """,
)
def stat_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b (tie-corrected) between quantity and line number
    — the pair-concordance rank correlation (`stat_spearman` measures
    monotone position agreement; tau measures pairwise ORDER agreement,
    the statistic behind trend tests like Mann-Kendall). Naive tau is
    O(n²) pairs; over two bounded-cardinality columns it collapses to
    the CONTINGENCY TABLE: concordant/discordant mass is a cell-pair
    join over |X|·|Y| cells (350 here — metadata scale at ANY corpus
    size), tie corrections are marginal re-aggregates, and only the
    initial cell aggregate ever touches the fact table.

    Exact: all pair counts are exact integer products of cell counts;
    tau combines them in one shared double expression, rounded to 6."""
    li = table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_quantity").alias("x"), F.col("l_linenumber").alias("y")
    ).agg(F.count(F.lit(1)).alias("n"))
    cells = cells.localCheckpoint(eager=True)  # 4 consumers below
    a = cells.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("n").alias("an")
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("n").alias("bn")
    )
    pair = F.col("an").cast("decimal(19,0)") * F.col("bn").cast("decimal(19,0)")
    cd = a.join(F.broadcast(b), F.col("bx") > F.col("ax")).agg(
        F.sum(F.when(F.col("by") > F.col("ay"), pair).otherwise(F.lit(0))).alias(
            "conc"
        ),
        F.sum(F.when(F.col("by") < F.col("ay"), pair).otherwise(F.lit(0))).alias(
            "disc"
        ),
    )
    half = lambda c: (c * (c - 1) / 2).cast("decimal(19,0)")  # noqa: E731
    nn = cells.agg(F.sum("n").alias("nn"))
    n1 = (
        cells.groupBy("x").agg(F.sum("n").alias("tn"))
        .agg(F.sum(half(F.col("tn"))).alias("n1"))
    )
    n2 = (
        cells.groupBy("y").agg(F.sum("n").alias("tn"))
        .agg(F.sum(half(F.col("tn"))).alias("n2"))
    )
    t = nn.crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(n2))
    n0 = half(F.col("nn"))
    return cd.crossJoin(F.broadcast(t)).select(
        F.col("nn").cast("long").alias("n_rows"),
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        F.round(
            (F.col("conc") - F.col("disc")).cast("double")
            / F.sqrt(
                (n0 - F.col("n1")).cast("double")
                * (n0 - F.col("n2")).cast("double")
            ),
            6,
        ).alias("tau_b"),
    )


@query(
    "stat_cramers_v",
    """
    WITH cells AS (
        SELECT c_mktsegment AS seg, o_orderpriority AS pri,
               CAST(count(*) AS DOUBLE) AS obs
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY seg, pri
    ), rowt AS (
        SELECT seg, sum(obs) AS r FROM cells GROUP BY seg
    ), colt AS (
        SELECT pri, sum(obs) AS c FROM cells GROUP BY pri
    ), tot AS (
        SELECT sum(obs) AS n FROM cells
    ), chi AS (
        SELECT CAST(sum(CAST(
                   (obs - r * c / n) * (obs - r * c / n) / (r * c / n)
                   AS DECIMAL(28,12))) AS DOUBLE) AS chi2,
               min(n) AS n,
               least(count(DISTINCT seg) - 1, count(DISTINCT pri) - 1) AS k
        FROM cells JOIN rowt USING (seg) JOIN colt USING (pri) CROSS JOIN tot
    )
    SELECT round(chi2, 6) AS chi2,
           round(sqrt(chi2 / (n * CAST(k AS DOUBLE))), 6) AS cramers_v
    FROM chi
    """,
)
def stat_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size — chi-square normalized onto [0,1] so
    association strength is comparable ACROSS tables and sample sizes
    (the quantity `stat_chi2`'s raw statistic can't give: chi2 grows
    with n even when the association is negligible; V answers "how
    strong", not "how unlikely"). Same single contingency aggregate and
    DECIMAL-quantized per-cell terms as stat_chi2 (identical per-cell
    doubles both engines), then V = sqrt(chi2 / (n·min(r−1,c−1))) as
    one shared scalar expression. One fact-table shuffle; everything
    after runs on the |seg|×|pri| cells."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    cells = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("obs"))
    )
    rowt = cells.groupBy("seg").agg(F.sum("obs").alias("r"))
    colt = cells.groupBy("pri").agg(F.sum("obs").alias("c"))
    tot = cells.agg(F.sum("obs").alias("n"))
    exp = F.col("r") * F.col("c") / F.col("n")
    chi = (
        cells.join(F.broadcast(rowt), "seg")
        .join(F.broadcast(colt), "pri")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                ((F.col("obs") - exp) * (F.col("obs") - exp) / exp).cast(
                    "decimal(28,12)"
                )
            )
            .cast("double")
            .alias("chi2"),
            F.min("n").alias("n"),
            F.least(
                F.countDistinct("seg") - 1, F.countDistinct("pri") - 1
            ).alias("k"),
        )
    )
    return chi.select(
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * F.col("k").cast("double"))), 6
        ).alias("cramers_v"),
    )


@query(
    "stat_equivalence_tost",
    """
    WITH g AS (
      SELECT count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS na,
             sum(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS sa,
             sum(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                           * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS qa,
             count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS nb,
             sum(CASE WHEN o_orderpriority = '5-LOW'
                      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS sb,
             sum(CASE WHEN o_orderpriority = '5-LOW'
                      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                           * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS qb
      FROM orders
    ), d AS (
      SELECT CAST(na AS DOUBLE) AS na, CAST(sa AS DOUBLE) / na AS ma,
             (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
              / na) / (na - 1) AS va,
             CAST(nb AS DOUBLE) AS nb, CAST(sb AS DOUBLE) / nb AS mb,
             (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
              / nb) / (nb - 1) AS vb
      FROM g
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round((ma - mb) / 100, 2) AS mean_diff,
           round((ma - mb - 500000) / sqrt(va / na + vb / nb), 6) AS t_upper,
           round((ma - mb + 500000) / sqrt(va / na + vb / nb), 6) AS t_lower,
           ((ma - mb - 500000) / sqrt(va / na + vb / nb) < -1.645
            AND (ma - mb + 500000) / sqrt(va / na + vb / nb) > 1.645)
             AS equivalent
    FROM d
    """,
)
def stat_equivalence_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equivalence testing by TOST (two one-sided tests) — the inference
    `stat_ttest` cannot give: failing to find a difference is NOT
    evidence of equivalence; TOST declares two groups equivalent only
    when BOTH one-sided Welch t statistics reject at the ±δ margin
    (δ = $5,000 here, z₀.₀₅ = 1.645) — the A/B "do no harm" gate for
    rollouts and the validation test for pipeline migrations (old vs
    new engine outputs equivalent within tolerance).

    Exact: all six sufficient statistics are integer-cent sums from ONE
    conditional aggregate; both engines then evaluate one shared double
    expression (Welch se, two shifted t's, the conjunction), round 6.
    Single fact-table pass, 1-row result."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    isa = F.col("o_orderpriority") == "1-URGENT"
    isb = F.col("o_orderpriority") == "5-LOW"
    g = o.agg(
        F.count_if(isa).alias("na"),
        F.sum(F.when(isa, cents).otherwise(F.lit(0))).alias("sa"),
        F.sum(F.when(isa, cents * cents).otherwise(F.lit(0))).alias("qa"),
        F.count_if(isb).alias("nb"),
        F.sum(F.when(isb, cents).otherwise(F.lit(0))).alias("sb"),
        F.sum(F.when(isb, cents * cents).otherwise(F.lit(0))).alias("qb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    qa, qb = F.col("qa").cast("double"), F.col("qb").cast("double")
    ma, mb = sa / na, sb / nb
    va = (qa - sa * sa / na) / (na - 1)
    vb = (qb - sb * sb / nb) / (nb - 1)
    se = F.sqrt(va / na + vb / nb)
    delta = F.lit(500000.0)  # $5,000 in cents
    tu = (ma - mb - delta) / se
    tl = (ma - mb + delta) / se
    return g.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round((ma - mb) / 100, 2).alias("mean_diff"),
        F.round(tu, 6).alias("t_upper"),
        F.round(tl, 6).alias("t_lower"),
        ((tu < -1.645) & (tl > 1.645)).alias("equivalent"),
    )


@query(
    "stat_runs_test",
    """
    WITH daily AS (
      SELECT o_orderdate AS d,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      FROM orders GROUP BY 1
    ), med AS (
      SELECT max(v) AS md FROM (
        SELECT v, row_number() OVER (ORDER BY v) AS rn,
               count(*) OVER () AS n
        FROM daily
      ) WHERE rn <= (n + 1) // 2
    ), lab AS (
      SELECT d, v > md AS above
      FROM daily CROSS JOIN med WHERE v <> md
    ), chg AS (
      SELECT above,
             CASE WHEN above <> lag(above) OVER (ORDER BY d)
                  THEN 1 ELSE 0 END AS c
      FROM lab
    ), runs AS (
      SELECT count(*) AS n,
             count(*) FILTER (WHERE above) AS n1,
             count(*) FILTER (WHERE NOT above) AS n2,
             1 + sum(c) AS r
      FROM chg
    )
    SELECT CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
           CAST(r AS BIGINT) AS n_runs,
           round((CAST(r AS DOUBLE)
                  - (2.0 * n1 * n2 / n + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                        / (CAST(n AS DOUBLE) * n * (n - 1))), 6) AS z
    FROM runs
    """,
)
def stat_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily-revenue series — is the
    sequence of above/below-median days RANDOM, or does it cluster
    (momentum / regime behavior the mean-level tests can't see)? Too
    few runs ⇒ positive serial dependence; too many ⇒ oscillation.
    Median is the exact ⌈n/2⌉-th smallest daily total (replicated
    verbatim in both engines — no engine quantile semantics); days
    equal to the median are excluded per the standard test; runs are
    1 + sign changes over the date order.

    Exact: daily totals are integer cents; (n1, n2, R) are integers;
    z is one shared double expression, rounded 6. The series is
    calendar-bounded (~2.4k rows at ANY corpus scale), so the rank /
    lag windows are metadata-scale by construction — only the daily
    aggregate touches the fact table."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("v")
    )
    daily = daily.localCheckpoint(eager=True)  # feeds median + labels
    ranked = daily.select(
        "v",
        F.row_number().over(Window.orderBy("v")).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") <= (F.col("n") + 1) / 2
    ).agg(F.max("v").alias("md"))
    lab = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("v") != F.col("md"))
        .select("d", (F.col("v") > F.col("md")).alias("above"))
    )
    chg = F.when(
        F.col("above") != F.lag("above").over(Window.orderBy("d")), 1
    ).otherwise(0)
    runs = lab.select("d", "above", chg.alias("c")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("above")).alias("n1"),
        F.count_if(~F.col("above")).alias("n2"),
        (F.lit(1) + F.sum("c")).alias("r"),
    )
    n = F.col("n").cast("double")
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    mu = F.lit(2.0) * n1 * n2 / n + 1
    var = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n)
        / (n * n * (n - 1))
    )
    return runs.select(
        F.col("n1").cast("long").alias("n_above"),
        F.col("n2").cast("long").alias("n_below"),
        F.col("r").cast("long").alias("n_runs"),
        F.round((F.col("r").cast("double") - mu) / F.sqrt(var), 6).alias("z"),
    )


@query(
    "stat_jackknife_ratio_se",
    """
    WITH b AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
             CAST(l_quantity AS BIGINT) AS x
      FROM lineitem
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x) AS BIGINT) AS sx
      FROM b
    ), d AS (
      SELECT n, sy, sx,
             CAST(CAST(sy - y AS DOUBLE) / CAST(sx - x AS DOUBLE)
                  - CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE)
                  AS DECIMAL(28,18)) AS di
      FROM b CROSS JOIN tot
    ), s AS (
      SELECT min(n) AS n, min(sy) AS sy, min(sx) AS sx,
             sum(di) AS sd,
             sum(CAST(CAST(di AS DOUBLE) * CAST(di AS DOUBLE)
                      AS DECIMAL(28,18))) AS sdd
      FROM d
    )
    SELECT n AS n_rows,
           round(CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) / 100, 6)
             AS ratio_dollars_per_unit,
           round(sqrt((CAST(n AS DOUBLE) - 1) / CAST(n AS DOUBLE)
                      * (CAST(sdd AS DOUBLE)
                         - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n))
                 / 100, 9) AS jackknife_se_dollars
    FROM s
    """,
)
def stat_jackknife_ratio_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-1 jackknife standard error of a RATIO estimator (revenue
    per unit = Σprice/Σqty) — ratio metrics are the norm in experiment
    readouts (CTR, revenue/user) and their SE has no closed form; the
    jackknife is the estimator that distributes: each row's leave-one-
    out replicate R₍ᵢ₎ = (Sy−yᵢ)/(Sx−xᵢ) is a MAP-ONLY expression
    against broadcast totals — no resampling loop, no data movement
    beyond one total-computing pass.

    Numerical discipline: replicates are centered on the full-sample
    ratio FIRST (dᵢ = R₍ᵢ₎ − R, magnitudes ~1e-2), so the variance sum
    has no catastrophic cancellation; each dᵢ and dᵢ² is quantized to
    DECIMAL(28,18) before summation (the chi2/entropy discipline:
    per-row doubles are engine-identical, cross-row SUM ORDER is not —
    quantized decimal sums are). SE combines the exact sums in one
    shared double expression."""
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
        F.col("l_quantity").cast("long").alias("x"),
    )
    tot = b.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum("x").alias("sx"),
    )
    r_full = F.col("sy").cast("double") / F.col("sx").cast("double")
    di = (
        (F.col("sy") - F.col("y")).cast("double")
        / (F.col("sx") - F.col("x")).cast("double")
        - r_full
    ).cast("decimal(28,18)")
    d = b.crossJoin(F.broadcast(tot)).select(
        "n", "sy", "sx", di.alias("di")
    )
    s = d.agg(
        F.min("n").alias("n"),
        F.min("sy").alias("sy"),
        F.min("sx").alias("sx"),
        F.sum("di").alias("sd"),
        F.sum(
            (F.col("di").cast("double") * F.col("di").cast("double")).cast(
                "decimal(28,18)"
            )
        ).alias("sdd"),
    )
    nd = F.col("n").cast("double")
    se = F.sqrt(
        (nd - 1) / nd
        * (
            F.col("sdd").cast("double")
            - F.col("sd").cast("double") * F.col("sd").cast("double") / F.col("n")
        )
    )
    return s.select(
        F.col("n").alias("n_rows"),
        F.round(
            F.col("sy").cast("double") / F.col("sx").cast("double") / 100, 6
        ).alias("ratio_dollars_per_unit"),
        F.round(se / 100, 9).alias("jackknife_se_dollars"),
    )


@query(
    "stat_capture_recapture",
    """
    WITH m AS (
      SELECT o_custkey,
             max(CASE WHEN (o_orderkey * 2654435761 + 11) % 7 = 0
                      THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN (o_orderkey * 40503 + 29) % 7 = 0
                      THEN 1 ELSE 0 END) AS in_b
      FROM orders GROUP BY o_custkey
    ), c AS (
      SELECT sum(in_a) AS na, sum(in_b) AS nb,
             sum(in_a * in_b) AS nab, count(*) AS n_true
      FROM m
    )
    SELECT CAST(na AS BIGINT) AS n_sample_a,
           CAST(nb AS BIGINT) AS n_sample_b,
           CAST(nab AS BIGINT) AS n_overlap,
           CAST(n_true AS BIGINT) AS n_true_customers,
           round((CAST(na + 1 AS DOUBLE) * (nb + 1)) / (nab + 1) - 1, 2)
             AS chapman_estimate
    FROM c
    """,
)
def stat_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture–recapture (Chapman-corrected Lincoln–Petersen) estimate
    of a population you can only sample — the back-of-the-envelope that
    answers "how many distinct customers/documents are there REALLY"
    from two cheap independent probes and their overlap, without a full
    distinct count (the survey-statistics cousin of HLL: no sketch
    state, just two marked subsets; also the standard way to estimate
    RESIDUAL DUPLICATES after a dedup pass — mark two random slices,
    re-dedup the union, count recaptures). Two deterministic hash
    probes over orders mark customers; N̂ = (nA+1)(nB+1)/(nAB+1) − 1.
    The true distinct count rides along so the estimate's quality is
    visible in the result. One aggregate pass; all counts exact
    integers; the estimator is one shared double expression."""
    o = table(spark, sf_dir, "orders")
    in_a = F.max(
        F.when((F.col("o_orderkey") * 2654435761 + 11) % 7 == 0, 1).otherwise(0)
    )
    in_b = F.max(
        F.when((F.col("o_orderkey") * 40503 + 29) % 7 == 0, 1).otherwise(0)
    )
    m = o.groupBy("o_custkey").agg(in_a.alias("in_a"), in_b.alias("in_b"))
    c = m.agg(
        F.sum("in_a").alias("na"),
        F.sum("in_b").alias("nb"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("nab"),
        F.count(F.lit(1)).alias("n_true"),
    )
    return c.select(
        F.col("na").cast("long").alias("n_sample_a"),
        F.col("nb").cast("long").alias("n_sample_b"),
        F.col("nab").cast("long").alias("n_overlap"),
        F.col("n_true").cast("long").alias("n_true_customers"),
        F.round(
            (F.col("na").cast("double") + 1)
            * (F.col("nb").cast("double") + 1)
            / (F.col("nab").cast("double") + 1)
            - 1,
            2,
        ).alias("chapman_estimate"),
    )


@query(
    "stat_theil_sen",
    """
    WITH pts0 AS (
      SELECT l_partkey AS k, l_shipdate AS d,
             CAST(floor(l_extendedprice / l_quantity * 100 + 0.5)
                  AS BIGINT) AS p,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY l_shipdate DESC, l_orderkey DESC)
               AS recency
      FROM lineitem WHERE l_partkey % 100 = 13
    ), pts AS (
      SELECT k, d, p FROM pts0 WHERE recency <= 64
    ), pairs AS (
      SELECT a.k,
             round(CAST(b.p - a.p AS DOUBLE)
                   / date_diff('day', a.d, b.d), 9) AS slope
      FROM pts a JOIN pts b ON a.k = b.k AND a.d < b.d
    ), ranked AS (
      SELECT k, slope,
             row_number() OVER (PARTITION BY k ORDER BY slope) AS rn,
             count(*) OVER (PARTITION BY k) AS n
      FROM pairs
    )
    SELECT k AS part_key, CAST(min(n) AS BIGINT) AS n_pairs,
           min(slope) AS theil_sen_slope
    FROM ranked WHERE rn = (n + 1) // 2 GROUP BY k
    """,
)
def stat_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per part — the median of all pairwise
    unit-price slopes over the part's shipment history. Up to ~29% of
    corrupted points cannot move it (the breakdown property OLS lacks
    entirely — one fat-finger price wrecks `stat_linreg`'s slope, not
    this). Pairwise enumeration is confined WITHIN each part's own
    history, CAPPED at the 64 most recent fills (≤2016 pairs/key flat
    at any density — per-key quadratic cost is intrinsic to Theil–Sen,
    so the cap, not hope, is what bounds it at scale), keyed by an
    equi-join on the part; partitions are per-part, so 100 TB
    parallelizes on the part key.

    Exact: unit prices quantized to integer cents, day deltas integer,
    each slope one shared double division rounded to 9 BEFORE the
    per-part median pick (lower median at rank ⌈n/2⌉ under the slope
    order — deterministic across engines)."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 100 == 13
    )
    # Bound each part's history to its 64 most recent fills: Theil-Sen
    # is quadratic in PER-KEY history by definition, so an unbounded
    # hot key blows up C(n,2) as data densifies (measured 10.2x wall
    # at 8x density before this cap). 64 points -> <= 2016 pairs per
    # key, flat at any corpus scale.
    recency = F.row_number().over(
        Window.partitionBy("l_partkey").orderBy(
            F.col("l_shipdate").desc(), F.col("l_orderkey").desc()
        )
    )
    pts = (
        li.withColumn("recency", recency)
        .filter(F.col("recency") <= 64)
        .select(
            F.col("l_partkey").alias("k"),
            F.col("l_shipdate").alias("d"),
            F.floor(
                F.col("l_extendedprice") / F.col("l_quantity") * 100
                + F.lit(0.5)
            )
            .cast("long")
            .alias("p"),
        )
    )
    a = pts.select(
        F.col("k"), F.col("d").alias("da"), F.col("p").alias("pa")
    )
    b = pts.select(
        F.col("k").alias("kb"), F.col("d").alias("db"), F.col("p").alias("pb")
    )
    pairs = (
        a.join(b, (F.col("k") == F.col("kb")) & (F.col("da") < F.col("db")))
        .select(
            "k",
            F.round(
                (F.col("pb") - F.col("pa")).cast("double")
                / F.datediff(F.col("db"), F.col("da")),
                9,
            ).alias("slope"),
        )
    )
    wn = Window.partitionBy("k")
    ranked = pairs.select(
        "k",
        "slope",
        F.row_number().over(wn.orderBy("slope")).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return (
        ranked.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .groupBy(F.col("k").alias("part_key"))
        .agg(
            F.min("n").cast("long").alias("n_pairs"),
            F.min("slope").alias("theil_sen_slope"),
        )
    )


@query(
    "stat_sprt",
    """
    WITH daily AS (
      SELECT o_orderdate AS d, count(*) AS n,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS k
      FROM orders GROUP BY 1
    ), llr AS (
      SELECT d, n, k,
             sum(CAST(CAST(k AS DOUBLE) * ln(0.55 / 0.45)
                      + CAST(n - k AS DOUBLE) * ln(0.45 / 0.55)
                      AS DECIMAL(28,18)))
               OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS s
      FROM daily
    ), crossed AS (
      SELECT d, CAST(s AS DOUBLE) AS s,
             CASE WHEN CAST(s AS DOUBLE) >= ln((1 - 0.05) / 0.05)
                  THEN 'accept_h1'
                  WHEN CAST(s AS DOUBLE) <= ln(0.05 / (1 - 0.05))
                  THEN 'accept_h0' END AS verdict
      FROM llr
    )
    SELECT min(d) AS decision_date,
           round(min_by(s, d), 6) AS llr_at_decision,
           min_by(verdict, d) AS verdict
    FROM crossed WHERE verdict IS NOT NULL
    """,
)
def stat_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test over the daily order
    stream — H0: P(F-status) = 0.45 vs H1: 0.55, α = β = 0.05: the
    cumulative log-likelihood ratio walks until it exits
    [ln(β/(1−α)), ln((1−α)/α)], and the op reports the FIRST crossing
    day — the always-valid sequential decision modern experimentation
    uses instead of fixed-horizon tests (`stat_proportion_ztest` needs
    n chosen in advance; SPRT stops itself, typically much earlier).

    Exactness: per-day LLR increments are k·ln(p1/p0)+(n−k)·ln(q1/q0)
    with exact integer (n,k); each increment is DECIMAL(28,18)-
    quantized BEFORE the running sum (the entropy/perplexity
    discipline), so the cumulative path is bit-identical in both
    engines; boundaries are shared double constants. The walk is
    calendar-bounded, so everything after the daily aggregate is
    metadata-scale."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("o_orderstatus") == "F").alias("k"),
    )

    la, lb = math.log(0.55 / 0.45), math.log(0.45 / 0.55)
    hi, lo = math.log(0.95 / 0.05), math.log(0.05 / 0.95)
    inc = (
        F.col("k").cast("double") * F.lit(la)
        + (F.col("n") - F.col("k")).cast("double") * F.lit(lb)
    ).cast("decimal(28,18)")
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    llr = daily.select("d", inc.alias("i")).select(
        "d", F.sum("i").over(w).cast("double").alias("s")
    )
    crossed = llr.select(
        "d",
        "s",
        F.when(F.col("s") >= hi, "accept_h1")
        .when(F.col("s") <= lo, "accept_h0")
        .alias("verdict"),
    ).filter(F.col("verdict").isNotNull())
    return crossed.agg(
        F.min("d").alias("decision_date"),
        F.round(F.min_by("s", F.col("d")), 6).alias("llr_at_decision"),
        F.min_by("verdict", F.col("d")).alias("verdict"),
    )


@query(
    "stat_odds_ratio",
    """
    WITH t AS (
      SELECT count(*) FILTER (WHERE o_orderpriority = '1-URGENT'
                                AND o_orderstatus = 'F') AS a,
             count(*) FILTER (WHERE o_orderpriority = '1-URGENT'
                                AND o_orderstatus <> 'F') AS b,
             count(*) FILTER (WHERE o_orderpriority <> '1-URGENT'
                                AND o_orderstatus = 'F') AS c,
             count(*) FILTER (WHERE o_orderpriority <> '1-URGENT'
                                AND o_orderstatus <> 'F') AS d
      FROM orders
    )
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
           round(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE), 6)
             AS odds_ratio,
           round(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
                 - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d), 6)
             AS log_or_lo,
           round(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
                 + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d), 6)
             AS log_or_hi
    FROM t
    """,
)
def stat_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio with Woolf 95% CI on the log scale — THE effect
    measure for 2×2 exposure/outcome tables (urgent-priority × final
    status here): unlike the risk difference `stat_proportion_ztest`
    tests, the OR is invariant to which margin was sampled, which is
    why case-control analyses must use it. The point estimate ad/bc is
    an exact integer ratio divided once in double; the CI uses Woolf's
    se = √(1/a+1/b+1/c+1/d) around ln(OR) — shared expression trees
    over the four exact cell counts from ONE conditional aggregate."""
    o = table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    fstat = F.col("o_orderstatus") == "F"
    t = o.agg(
        F.count_if(urgent & fstat).alias("a"),
        F.count_if(urgent & ~fstat).alias("b"),
        F.count_if(~urgent & fstat).alias("c"),
        F.count_if(~urgent & ~fstat).alias("d"),
    )
    orr = (F.col("a") * F.col("d")).cast("double") / (
        F.col("b") * F.col("c")
    ).cast("double")
    se = F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c")
        + 1.0 / F.col("d")
    )
    return t.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.col("d").cast("long").alias("d"),
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.log(orr) - F.lit(1.96) * se, 6).alias("log_or_lo"),
        F.round(F.log(orr) + F.lit(1.96) * se, 6).alias("log_or_hi"),
    )


@query(
    "stat_extreme_value",
    """
    WITH daily AS (
      SELECT o_orderdate AS d,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      FROM orders GROUP BY 1
    ), blocks AS (
      SELECT date_trunc('month', d) AS m, max(v) AS mx FROM daily GROUP BY 1
    ), s AS (
      SELECT count(*) AS n, sum(mx) AS sm,
             sum(CAST(mx AS DECIMAL(38,0)) * mx) AS sq
      FROM blocks
    ), fit AS (
      SELECT CAST(n AS BIGINT) AS n_blocks,
             CAST(sm AS DOUBLE) / n AS mean,
             sqrt((CAST(sq AS DOUBLE) - CAST(sm AS DOUBLE)
                   * CAST(sm AS DOUBLE) / n) / (n - 1)) AS sd
      FROM s
    )
    SELECT n_blocks,
           round((mean - 0.5772156649015329
                  * (sd * 0.7796968012336293)) / 100, 2) AS gumbel_mu,
           round(sd * 0.7796968012336293 / 100, 2) AS gumbel_beta,
           round((mean - 0.5772156649015329
                  * (sd * 0.7796968012336293)
                  - (sd * 0.7796968012336293) * ln(-ln(0.99))) / 100, 2)
             AS return_level_100
    FROM fit
    """,
)
def stat_extreme_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value (Gumbel) fit on monthly revenue maxima — the
    capacity-planning statistic means and percentiles can't give: "what
    daily peak should we provision for once in 100 months?" Block
    maxima are Gumbel-distributed (Fisher–Tippett); method-of-moments
    gives β = sd·√6/π and μ = mean − γ·β closed-form (γ = Euler's
    constant), and the T-period return level is μ − β·ln(−ln(1−1/T)).

    Exact: daily totals and their monthly maxima are integer cents;
    mean/sd come from exact DECIMAL sums; the fit and return level are
    one shared double expression with the constants pre-folded
    (√6/π = 0.7796968…, γ = 0.5772156…). Calendar-bounded after the
    daily aggregate — the only fact-table cost is one scan."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("v")
    )
    blocks = daily.groupBy(F.date_trunc("month", "d").alias("m")).agg(
        F.max("v").alias("mx")
    )
    s = blocks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").alias("sm"),
        F.sum(F.col("mx").cast("decimal(38,0)") * F.col("mx")).alias("sq"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("sm").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("sq").cast("double")
            - F.col("sm").cast("double") * F.col("sm").cast("double") / F.col("n")
        )
        / (nd - 1)
    )
    beta = sd * F.lit(0.7796968012336293)
    mu = mean - F.lit(0.5772156649015329) * beta

    rl = mu - beta * F.lit(math.log(-math.log(0.99)))
    return s.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.round(mu / 100, 2).alias("gumbel_mu"),
        F.round(beta / 100, 2).alias("gumbel_beta"),
        F.round(rl / 100, 2).alias("return_level_100"),
    )


@query(
    "stat_ht_estimate",
    """
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             (o_orderkey * 2654435761 + 7919) % 1048576 AS u,
             least(CAST(floor(o_totalprice * 1048576.0 / 600000.0)
                        AS BIGINT), 1048576) AS p
      FROM orders
    ), est AS (
      SELECT count(*) AS n_sampled,
             sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                      * 1048576 AS DECIMAL(38,6)) / p) AS ht_total_cents
      FROM t WHERE u < p
    ), truth AS (
      SELECT sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS tot,
             count(*) AS n_all
      FROM orders
    )
    SELECT CAST(n_sampled AS BIGINT) AS n_sampled,
           CAST(n_all AS BIGINT) AS n_population,
           round(CAST(ht_total_cents AS DOUBLE) / 100, 2) AS ht_revenue,
           round(CAST(tot AS DOUBLE) / 100, 2) AS true_revenue,
           round(CAST(ht_total_cents AS DOUBLE) / CAST(tot AS DOUBLE), 6)
             AS ratio
    FROM est CROSS JOIN truth
    """,
)
def stat_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz–Thompson estimation from the deterministic weighted
    sample — close the loop `sample_weighted` opens: re-weight each
    sampled order by 1/π (π = price/600k, the known inclusion
    probability) and the sample's weighted sum estimates the FULL
    population total without scanning it — the survey-sampling
    identity that makes proportional-to-size sampling USEFUL (big
    orders are certain to be kept, small ones carry large weights; the
    estimator is unbiased by construction). Truth rides along so the
    realized accuracy is visible (PPS sampling on the target variable
    itself makes it very tight).

    Exact: inclusion is the integer hash rule shared with
    sample_weighted; per-row HT terms are exact DECIMAL(38,6)
    rationals (cents·2²⁰/p_scaled — integer-over-integer at fixed
    scale), summed exactly; doubles appear only in the final display
    division."""
    o = table(spark, sf_dir, "orders")
    u = (F.col("o_orderkey") * F.lit(2654435761) + F.lit(7919)) % F.lit(1048576)
    p = F.least(
        F.floor(F.col("o_totalprice") * F.lit(1048576.0) / F.lit(600000.0))
        .cast("long"),
        F.lit(1048576).cast("long"),
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    t = o.select(cents.alias("c"), u.alias("u"), p.alias("p"))
    est = t.filter(F.col("u") < F.col("p")).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(
            (F.col("c") * F.lit(1048576)).cast("decimal(38,6)") / F.col("p")
        ).alias("ht_total_cents"),
    )
    truth = t.agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("n_all")
    )
    return est.crossJoin(F.broadcast(truth)).select(
        F.col("n_sampled").cast("long").alias("n_sampled"),
        F.col("n_all").cast("long").alias("n_population"),
        F.round(F.col("ht_total_cents").cast("double") / 100, 2).alias(
            "ht_revenue"
        ),
        F.round(F.col("tot").cast("double") / 100, 2).alias("true_revenue"),
        F.round(
            F.col("ht_total_cents").cast("double")
            / F.col("tot").cast("double"),
            6,
        ).alias("ratio"),
    )


@query(
    "stat_backtest_snaive",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      FROM orders GROUP BY 1
    ), j AS (
      SELECT a.d, a.v, b.v AS pred
      FROM daily a JOIN daily b ON b.d = a.d - 7
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(sum(abs(v - pred)) AS DOUBLE) / count(*) / 100, 2)
             AS mae_dollars,
           round(CAST(sum(CAST(abs(v - pred) AS DOUBLE) / v)
                 AS DOUBLE) / count(*), 6) AS mape
    FROM j
    """,
)
def stat_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — predict each day's revenue
    with the value from 7 days earlier and score MAE/MAPE: the
    BASELINE every forecasting effort must beat before it earns
    compute (if a model can't beat copy-last-week, ship copy-last-
    week). Implemented as a self-equi-join on the shifted date — NOT a
    window lag, because calendar gaps would silently misalign
    lag(7 ROWS) with 7 DAYS; the join is gap-correct by construction.

    Exact: daily totals integer cents; MAE from exact integer sums;
    MAPE's per-day ratios are engine-identical doubles summed after
    the join (calendar-bounded row count, one aggregation order per
    engine — both sum ≤2.4k quantized terms... per-day terms are NOT
    quantized here because the series is calendar-bounded and both
    engines reduce in the same single partition; mae is integer-exact
    regardless)."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("v")
    )
    a = daily.select(F.col("d"), F.col("v"))
    b = daily.select(
        F.date_add(F.col("d"), 7).alias("d"), F.col("v").alias("pred")
    )
    j = a.join(b, "d")
    ae = F.abs(F.col("v") - F.col("pred"))
    return j.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.sum(ae).cast("double") / F.count(F.lit(1)) / 100, 2
        ).alias("mae_dollars"),
        F.round(
            F.sum(
                (ae.cast("double") / F.col("v")).cast("decimal(28,18)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mape"),
    )


@query(
    "stat_lorenz_curve",
    """
    WITH ranked AS (
      SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                             l_linenumber) AS decile
      FROM lineitem
    ), per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_rows,
             sum(p) AS s
      FROM ranked GROUP BY decile
    ), tot AS (SELECT sum(s) AS t FROM per)
    SELECT decile, n_rows,
           round(CAST(s AS DOUBLE), 2) AS decile_sum,
           round(CAST(sum(s) OVER (ORDER BY decile) AS DOUBLE)
                 / CAST(t AS DOUBLE), 6) AS cum_share
    FROM per CROSS JOIN tot
    """,
)
def stat_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve points — cumulative value share of the poorest d/10
    of line items, the curve whose area `agg_gini` summarizes to one
    number. Concentration diagnostics read the points, not the scalar:
    "the top decile carries 23% of revenue" is this row set.

    Scale shape: the global decile assignment uses the bucketed
    two-phase ntile (operators/global_order.py) — range-bucket on the
    driving value, per-bucket local ranks + broadcast offsets, no
    single-partition global sort. Everything after it is a 10-row
    aggregate; the final normalizing window runs over 10 rows. Decimal
    sums keep both engines hash-identical; the one float division is
    the same expression on both sides."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("decimal(18,2)").alias("p"),
        "l_extendedprice", "l_orderkey", "l_linenumber",
    )
    ranked = GO.with_global_ntile(
        li,
        [F.col("l_extendedprice").asc(), F.col("l_orderkey").asc(),
         F.col("l_linenumber").asc()],
        "l_extendedprice",
        10,
        out="decile",
    )
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("p").alias("s")
    )
    tot = per.agg(F.sum("s").alias("t"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.crossJoin(F.broadcast(tot)).select(
        "decile", "n_rows",
        F.round(F.col("s").cast("double"), 2).alias("decile_sum"),
        F.round(
            F.sum("s").over(w).cast("double") / F.col("t").cast("double"), 6
        ).alias("cum_share"),
    )


def _hurst_block_sql(n: int) -> str:
    """DuckDB SQL producing per-block quantized ln(R/S) rows for block
    size ``n`` — the mirror of the Spark pipeline in `stat_hurst`."""
    return f"""
      SELECT CAST(round(ln(
               CAST(r_scaled AS DOUBLE)
               / sqrt(CAST({n} * s2 - s1 * s1 AS DOUBLE))
             ), 6) AS DECIMAL(18,6)) AS l
      FROM (
        SELECT max({n} * cum - i * s1) - min({n} * cum - i * s1)
                 AS r_scaled,
               max(s1) AS s1, max(s2t) AS s2,
               count(*) AS cnt
        FROM (
          SELECT user_id, blk,
                 CAST(row_number() OVER wb AS BIGINT) AS i,
                 CAST(sum(v) OVER wb AS DECIMAL(12,2)) AS cum,
                 CAST(sum(v) OVER wt AS DECIMAL(12,2)) AS s1,
                 CAST(sum(CAST(v * v AS DECIMAL(18,4))) OVER wt
                      AS DECIMAL(18,4)) AS s2t
          FROM (
            SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
                   CAST((row_number() OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) - 1) // {n} AS BIGINT)
                     AS blk,
                   ts, event_id
            FROM events
          )
          WINDOW wb AS (PARTITION BY user_id, blk
                        ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW),
                 wt AS (PARTITION BY user_id, blk)
        )
        GROUP BY user_id, blk
      )
      WHERE cnt = {n} AND r_scaled > 0 AND {n} * s2 - s1 * s1 > 0
    """


@query(
    "stat_hurst",
    f"""
    WITH l16 AS ({_hurst_block_sql(16)}), l64 AS ({_hurst_block_sql(64)})
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM l16) AS n_blocks_16,
           (SELECT CAST(count(*) AS BIGINT) FROM l64) AS n_blocks_64,
           (SELECT round(CAST(sum(l) AS DOUBLE) / count(*), 6) FROM l16)
             AS mlog_16,
           (SELECT round(CAST(sum(l) AS DOUBLE) / count(*), 6) FROM l64)
             AS mlog_64,
           round(((SELECT round(CAST(sum(l) AS DOUBLE) / count(*), 6)
                   FROM l64)
                - (SELECT round(CAST(sum(l) AS DOUBLE) / count(*), 6)
                   FROM l16)) / ln(4), 6) AS hurst
    """,
)
def stat_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis over per-user
    event-value series: H ≈ 0.5 for a memoryless series, > 0.5 for
    long-range persistence — the classic long-memory diagnostic for
    traffic and demand series. Per block size n ∈ {{16, 64}}: chunk each
    user's (ts, event_id)-ordered values into full blocks, compute
    R/S = range-of-cumulative-deviations / population σ per block, and
    estimate H as the slope of mean ln(R/S) across the two octaves
    (ln 64 − ln 16 = ln 4).

    Exactness trick: R/S is computed DIVISION-FREE from decimal
    sufficient statistics — scaling cumulative deviations by n gives
    cumdev_i·n = n·Σ_{{j≤i}}v_j − i·Σv (exact cents), and
    R/S = R_scaled / √(n·Σv² − (Σv)²), one final float expression per
    block. Per-block ln(R/S) is quantized to DECIMAL(18,6) so the
    cross-block aggregation is order-independent (the text_perplexity
    device); both engines then divide the same decimal sum by the same
    count.

    Scale shape: one shuffle on user_id per block size; block windows
    are ROWS-bounded within (user, block); everything after the
    per-block aggregate is a handful of scalars. The driver never sees
    data — the 1-row output is the only collect the consumer does."""
    ev = table(spark, sf_dir, "events")

    def blocks(n: int) -> DataFrame:
        wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
        base = ev.select(
            "user_id", "ts", "event_id",
            F.col("value").cast("decimal(18,2)").alias("v"),
            ((F.row_number().over(wu) - 1) / n)
            .cast("long").alias("blk"),
        )
        wb = (
            Window.partitionBy("user_id", "blk")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wt = Window.partitionBy("user_id", "blk")
        rows = base.select(
            "user_id", "blk",
            F.row_number().over(
                Window.partitionBy("user_id", "blk").orderBy("ts", "event_id")
            ).cast("long").alias("i"),
            F.sum("v").over(wb).cast("decimal(12,2)").alias("cum"),
            F.sum("v").over(wt).cast("decimal(12,2)").alias("s1"),
            F.sum((F.col("v") * F.col("v")).cast("decimal(18,4)"))
            .over(wt).cast("decimal(18,4)").alias("s2t"),
        )
        dev = F.lit(n) * F.col("cum") - F.col("i") * F.col("s1")
        per = rows.groupBy("user_id", "blk").agg(
            (F.max(dev) - F.min(dev)).alias("r_scaled"),
            F.max("s1").alias("s1"), F.max("s2t").alias("s2"),
            F.count(F.lit(1)).alias("cnt"),
        )
        var_n = F.lit(n) * F.col("s2") - F.col("s1") * F.col("s1")
        return per.filter(
            (F.col("cnt") == n) & (F.col("r_scaled") > 0) & (var_n > 0)
        ).select(
            F.round(
                F.log(
                    F.col("r_scaled").cast("double")
                    / F.sqrt(var_n.cast("double"))
                ),
                6,
            ).cast("decimal(18,6)").alias("l")
        )

    def stats(n: int):
        return blocks(n).agg(
            F.count(F.lit(1)).alias(f"n_blocks_{n}"),
            F.round(
                F.sum("l").cast("double") / F.count(F.lit(1)), 6
            ).alias(f"mlog_{n}"),
        )

    s16, s64 = stats(16), stats(64)
    return s16.crossJoin(s64).select(
        "n_blocks_16", "n_blocks_64", "mlog_16", "mlog_64",
        F.round(
            (F.col("mlog_64") - F.col("mlog_16"))
            / F.log(F.lit(4.0)), 6
        ).alias("hurst"),
    )


@query(
    "stat_wilcoxon_signed",
    """
    WITH ordered AS (
      SELECT l_orderkey, CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_linenumber,
                        CAST(l_extendedprice AS DECIMAL(18,2))) AS rn,
             count(*) OVER (PARTITION BY l_orderkey) AS c
      FROM lineitem
    ), pairs AS (
      SELECT l_orderkey,
             max(CASE WHEN rn = c THEN p END)
               - max(CASE WHEN rn = 1 THEN p END) AS d
      FROM ordered WHERE c >= 2 GROUP BY l_orderkey
    ), nz AS (
      SELECT abs(d) AS ad, d > 0 AS pos FROM pairs WHERE d <> 0
    ), vals AS (
      SELECT ad, count(*) AS cnt,
             CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS pos_cnt
      FROM nz GROUP BY ad
    ), ranked AS (
      SELECT ad, cnt, pos_cnt,
             2 * sum(cnt) OVER (ORDER BY ad) - cnt + 1 AS r2
      FROM vals
    ), s AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(pos_cnt * r2) AS BIGINT) AS w2,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
      FROM ranked
    )
    SELECT n, round(CAST(w2 AS DOUBLE) / 2, 1) AS w_plus,
           round((CAST(w2 AS DOUBLE) / 2 - CAST(n AS DOUBLE) * (n + 1) / 4)
                 / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                        - CAST(tie3 AS DOUBLE) / 48), 6) AS z
    FROM s
    """,
)
def stat_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test (paired, the one `stat_mann_whitney`
    isn't): per order, does the LAST line's price systematically exceed the
    FIRST line's (line order totalized by (linenumber, price) — the
    generator reuses line numbers)? W+ = sum of |difference| ranks where the sign is
    positive; z uses the normal approximation with the exact tie
    correction Σ(t³−t)/48.

    Exactness: tie-averaged ranks are computed DOUBLED (2·rank is an
    exact integer over the tie structure — the `stat_spearman` frank
    device) on the DISTINCT-|d| aggregate, so W+ arrives as an exact
    integer halved at the end; n, tie³ totals are exact; z is one
    identical float expression. Scale: one groupBy on the pair key, one
    vocabulary-scale rank pass (distinct |d| values), three scalars —
    the fact table is touched once."""
    li = table(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    pairs = (
        li.groupBy("l_orderkey")
        .agg(
            # l_linenumber is NOT unique within an order, so the
            # ordering key includes the price itself: residual ties
            # then imply equal prices and the argmax is well-defined.
            (F.max_by(p, F.struct(F.col("l_linenumber"), p))
             - F.min_by(p, F.struct(F.col("l_linenumber"), p))).alias("d"),
            F.count(F.lit(1)).alias("c"),
        )
        .filter(F.col("c") >= 2)
        .filter(F.col("d") != 0)
        .select(F.abs(F.col("d")).alias("ad"), (F.col("d") > 0).alias("pos"))
    )
    vals = pairs.groupBy("ad").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_if(F.col("pos")).alias("pos_cnt"),
    )

    ranked = GO.with_global_running_sums(
        vals, [F.col("ad").asc()], "ad", {"cle": "cnt"}
    ).select(
        "cnt", "pos_cnt",
        (F.lit(2) * F.col("cle") - F.col("cnt") + 1).alias("r2"),
    )
    s = ranked.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("pos_cnt") * F.col("r2")).cast("long").alias("w2"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).cast("long").alias("tie3"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "n",
        F.round(F.col("w2").cast("double") / 2, 1).alias("w_plus"),
        F.round(
            (F.col("w2").cast("double") / 2 - nd * (F.col("n") + 1) / 4)
            / F.sqrt(
                nd * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24
                - F.col("tie3").cast("double") / 48
            ),
            6,
        ).alias("z"),
    )


_EB_MIN_N = 5  #: parts with fewer lines are shrunk hardest — still included


@query(
    "stat_beta_binomial_eb",
    f"""
    WITH per AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
               AS k
      FROM lineitem GROUP BY l_partkey
    ), rates AS (
      SELECT l_partkey, n, k,
             CAST(round(CAST(k AS DOUBLE) / n, 8) AS DECIMAL(18,8)) AS p
      FROM per
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS g,
             CAST(sum(p) AS DECIMAL(28,8)) AS sp,
             CAST(sum(CAST(p * p AS DECIMAL(28,16))) AS DECIMAL(28,16))
               AS spp
      FROM rates WHERE n >= {_EB_MIN_N}
    ), prior AS (
      SELECT
        CAST(sp AS DOUBLE) / g AS m,
        (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / g)
          / (g - 1) AS v
      FROM mom
    ), ab AS (
      SELECT m * (m * (1 - m) / v - 1) AS alpha,
             (1 - m) * (m * (1 - m) / v - 1) AS beta
      FROM prior
    )
    SELECT r.l_partkey, r.n, r.k,
           round(CAST(r.p AS DOUBLE), 6) AS raw_rate,
           round((r.k + a.alpha) / (r.n + a.alpha + a.beta), 6)
             AS shrunk_rate
    FROM rates r CROSS JOIN ab a
    """,
)
def stat_beta_binomial_eb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-part return rates under a
    Beta-Binomial model — the smoothed-CTR estimator: a part with 2
    returns out of 3 lines should NOT rank as "67% return rate"; its
    estimate shrinks toward the corpus prior in proportion to its
    evidence. Prior (α, β) by method of moments from the rate
    distribution of adequately-sampled parts; every part then reports
    (k + α)/(n + α + β).

    Exactness: per-part rates quantize to DECIMAL(18,8) before the
    moment sums (order-independent); the prior and the shrinkage are
    one identical float expression over those exact moments. Shape: one
    groupBy at part scale, a 1-row prior broadcast back — two passes
    over the AGGREGATE, one over the data."""
    li = table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("l_returnflag") == "R").alias("k"),
    )
    rates = per.select(
        "l_partkey", "n", "k",
        F.round(F.col("k").cast("double") / F.col("n"), 8)
        .cast("decimal(18,8)").alias("p"),
    )
    mom = rates.filter(F.col("n") >= _EB_MIN_N).agg(
        F.count(F.lit(1)).alias("g"),
        F.sum("p").cast("decimal(28,8)").alias("sp"),
        F.sum((F.col("p") * F.col("p")).cast("decimal(28,16)"))
        .cast("decimal(28,16)").alias("spp"),
    )
    m = F.col("sp").cast("double") / F.col("g")
    v = (
        F.col("spp").cast("double")
        - F.col("sp").cast("double") * F.col("sp").cast("double")
        / F.col("g")
    ) / (F.col("g") - 1)
    ab = mom.select(
        (m * (m * (1 - m) / v - 1)).alias("alpha"),
        ((1 - m) * (m * (1 - m) / v - 1)).alias("beta"),
    )
    return rates.crossJoin(F.broadcast(ab)).select(
        "l_partkey", "n", "k",
        F.round(F.col("p").cast("double"), 6).alias("raw_rate"),
        F.round(
            (F.col("k") + F.col("alpha"))
            / (F.col("n") + F.col("alpha") + F.col("beta")),
            6,
        ).alias("shrunk_rate"),
    )


_H2D_PRICE_W = 10000  #: price bin width


_H2D_QTY_W = 10      #: quantity bin width


@query(
    "stat_histogram2d",
    f"""
    SELECT CAST(floor(l_extendedprice / {_H2D_PRICE_W}) AS BIGINT)
             AS price_bin,
           CAST(floor(l_quantity / {_H2D_QTY_W}) AS BIGINT) AS qty_bin,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS revenue
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def stat_histogram2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram over (price × quantity) bins — the joint
    distribution `stat_histogram` can't show: pricing anomalies live in
    CELLS (cheap-price × huge-quantity), not in either margin. The
    heatmap/contour primitive, and the binned statistic behind
    mutual-information estimates on continuous pairs
    (`stat_mutual_info` uses categorical axes; this bins continuous
    ones).

    Shape: bin ids are codegen floor-division (no width_bucket needed —
    fixed widths keep both engines integer-exact), then ONE
    partial-aggregating shuffle on the compound bin key. Cell count is
    bounded by the bin grid, not the data."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / _H2D_PRICE_W)
            .cast("long").alias("price_bin"),
            F.floor(F.col("l_quantity") / _H2D_QTY_W)
            .cast("long").alias("qty_bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double"), 2,
            ).alias("revenue"),
        )
    )


@query(
    "stat_cohens_d",
    """
    WITH g AS (
      SELECT o_orderpriority = '1-URGENT' AS urgent,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(28,2)) AS s1,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                           * CAST(o_totalprice AS DECIMAL(18,2))
                           AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS s2
      FROM orders GROUP BY 1
    ), w AS (
      SELECT max(CASE WHEN urgent THEN n END) AS n1,
             max(CASE WHEN urgent THEN s1 END) AS a1,
             max(CASE WHEN urgent THEN s2 END) AS b1,
             max(CASE WHEN NOT urgent THEN n END) AS n2,
             max(CASE WHEN NOT urgent THEN s1 END) AS a2,
             max(CASE WHEN NOT urgent THEN s2 END) AS b2
      FROM g
    )
    SELECT n1, n2,
           round(CAST(a1 AS DOUBLE) / n1 - CAST(a2 AS DOUBLE) / n2, 6)
             AS mean_diff,
           round((CAST(a1 AS DOUBLE) / n1 - CAST(a2 AS DOUBLE) / n2)
                 / sqrt((
                     (CAST(b1 AS DOUBLE) - CAST(a1 AS DOUBLE)
                        * CAST(a1 AS DOUBLE) / n1)
                   + (CAST(b2 AS DOUBLE) - CAST(a2 AS DOUBLE)
                        * CAST(a2 AS DOUBLE) / n2)
                   ) / (n1 + n2 - 2)), 6) AS cohens_d
    FROM w
    """,
)
def stat_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d — the standardized effect size `stat_ttest` doesn't
    report: mean difference between urgent and non-urgent order values
    in pooled-standard-deviation units. Significance (t) says an effect
    exists; d says whether anyone should care (0.2 small / 0.8 large) —
    at 100 TB row counts, everything is significant and ONLY the effect
    size is informative.

    One conditional-moment pass (decimal Σx, Σx² per arm), then a
    single shared float expression over six scalars."""
    o = table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    g = o.groupBy(
        (F.col("o_orderpriority") == "1-URGENT").alias("urgent")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(p).cast("decimal(28,2)").alias("s1"),
        F.sum((p * p).cast("decimal(38,4)")).cast("decimal(38,4)")
        .alias("s2"),
    )
    w = g.agg(
        F.max(F.when(F.col("urgent"), F.col("n"))).alias("n1"),
        F.max(F.when(F.col("urgent"), F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("urgent"), F.col("s2"))).alias("b1"),
        F.max(F.when(~F.col("urgent"), F.col("n"))).alias("n2"),
        F.max(F.when(~F.col("urgent"), F.col("s1"))).alias("a2"),
        F.max(F.when(~F.col("urgent"), F.col("s2"))).alias("b2"),
    )
    m1 = F.col("a1").cast("double") / F.col("n1")
    m2 = F.col("a2").cast("double") / F.col("n2")
    ss1 = F.col("b1").cast("double") - F.col("a1").cast("double") * F.col(
        "a1"
    ).cast("double") / F.col("n1")
    ss2 = F.col("b2").cast("double") - F.col("a2").cast("double") * F.col(
        "a2"
    ).cast("double") / F.col("n2")
    pooled = F.sqrt((ss1 + ss2) / (F.col("n1") + F.col("n2") - 2))
    return w.select(
        "n1", "n2",
        F.round(m1 - m2, 6).alias("mean_diff"),
        F.round((m1 - m2) / pooled, 6).alias("cohens_d"),
    )


def normal_sf_expr(z: str) -> str:
    """Upper-tail normal probability 1 − Φ(z) for a NON-NEGATIVE z
    expression, as one shared SQL string: the Abramowitz–Stegun 26.2.17
    rational approximation (|ε| < 7.5e−8 — far inside the 8dp round
    both engines apply). Neither Spark nor DuckDB ships erf, so the
    portable route is the same device the geo family uses: ONE
    generated expression evaluated verbatim by both engines ⇒ identical
    IEEE results."""
    t = f"(1.0 / (1.0 + 0.2316419 * ({z})))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * "
        f"(1.781477937 + {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    pdf = f"(exp(-(({z}) * ({z})) / 2) / sqrt(2 * pi()))"
    return f"({pdf} * {poly})"


_FDR_ALPHA = 0.05


#: z-score of each nation's mean order value against the global moments
_FDR_Z = (
    "abs((CAST(s1 AS DOUBLE) / n - CAST(g1 AS DOUBLE) / gn) "
    "/ sqrt(((CAST(g2 AS DOUBLE) - CAST(g1 AS DOUBLE) * CAST(g1 AS DOUBLE)"
    " / gn) / (gn - 1)) / n))"
)


_FDR_P = f"round(2 * {normal_sf_expr(_FDR_Z)}, 8)"


@query(
    "stat_fdr_bh",
    f"""
    WITH per AS (
      SELECT c.c_nationkey AS nationkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(28,2)) AS s1
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ), gm AS (
      SELECT CAST(count(*) AS BIGINT) AS gn,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(28,2)) AS g1,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                           * CAST(o_totalprice AS DECIMAL(18,2))
                           AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS g2
      FROM orders
    ), scored AS (
      SELECT nationkey, n, {_FDR_P} AS p
      FROM per CROSS JOIN gm
    ), ranked AS (
      SELECT nationkey, n, p,
             row_number() OVER (ORDER BY p, nationkey) AS rk,
             count(*) OVER () AS m
      FROM scored
    ), kstar AS (
      SELECT coalesce(max(CASE WHEN p <= rk * {_FDR_ALPHA} / m
                                THEN rk END), 0) AS k
      FROM ranked
    )
    SELECT r.nationkey, r.n, r.p, CAST(r.rk AS BIGINT) AS rank,
           r.rk <= k.k AS discovered
    FROM ranked r CROSS JOIN kstar k
    """,
)
def stat_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over a FAMILY of hypotheses —
    "which nations' mean order value differs from global?" tested 25
    times at once. Naive per-test α inflates false positives with the
    family size; BH rejects the largest prefix of ascending p-values
    satisfying p(k) ≤ kα/m, controlling the expected false-discovery
    RATE — the correction every metrics platform applies when it
    scans hundreds of segments nightly.

    p-values come from z-scores via a generated Abramowitz–Stegun
    normal-tail expression (`normal_sf_expr` — no erf in either
    engine; the shared-string device makes the approximation itself
    engine-exact). Moments are decimal-exact; the BH step runs over the
    25-row family (metadata)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    p2 = F.col("o_totalprice").cast("decimal(18,2)")
    per = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(p2).cast("decimal(28,2)").alias("s1"),
        )
    )
    glob = o.agg(
        F.count(F.lit(1)).alias("gn"),
        F.sum(p2).cast("decimal(28,2)").alias("g1"),
        F.sum((p2 * p2).cast("decimal(38,4)")).cast("decimal(38,4)")
        .alias("g2"),
    )
    scored = per.crossJoin(F.broadcast(glob)).selectExpr(
        "nationkey", "n", f"{_FDR_P} AS p"
    )
    w = Window.orderBy("p", "nationkey")
    ranked = scored.select(
        "nationkey", "n", "p",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    kstar = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p") <= F.col("rk") * _FDR_ALPHA / F.col("m"),
                    F.col("rk"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return ranked.crossJoin(F.broadcast(kstar)).select(
        "nationkey", "n", "p",
        F.col("rk").cast("long").alias("rank"),
        (F.col("rk") <= F.col("k")).alias("discovered"),
    )


@query(
    "stat_weibull_fit",
    """
    WITH ranked AS (
      SELECT l_returnflag AS grp,
             CAST(round(ln(l_extendedprice), 8) AS DECIMAL(18,8)) AS x,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS i,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ), pts AS (
      SELECT grp, x,
             CAST(round(ln(-ln(1 - (i - 0.3) / (n + 0.4))), 8)
                  AS DECIMAL(18,8)) AS y
      FROM ranked
    ), s AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(CAST(CAST(x AS DECIMAL(19,9)) * CAST(y AS DECIMAL(19,9))
                      AS DECIMAL(28,16))) AS sxy,
             sum(CAST(CAST(x AS DECIMAL(19,9)) * CAST(x AS DECIMAL(19,9))
                      AS DECIMAL(28,16))) AS sxx
      FROM pts GROUP BY grp
    )
    SELECT grp, n,
           round((n * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS shape_k,
           round(exp(-((CAST(sy AS DOUBLE)
                        - ((n * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (n * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                          * CAST(sx AS DOUBLE)) / n)
                       / ((n * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (n * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE)
                               * CAST(sx AS DOUBLE)))), 4) AS scale_lambda
    FROM s
    """,
)
def stat_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull (shape k, scale λ) fit per return-flag group by
    median-rank regression — the reliability engineer's standard
    estimator: plot ln(−ln(1−F_i)) against ln(x_i) with Benard's
    median ranks F_i = (i−0.3)/(n+0.4); the slope IS the shape and
    exp(−intercept/slope) the scale. k < 1 means infant mortality,
    k ≈ 1 memoryless, k > 1 wear-out — the lifetime-data counterpart
    of `stat_extreme_value`'s Gumbel tail fit.

    Exactness: both regression coordinates quantize to DECIMAL(18,8)
    (x from the data, y from exact (i, n) via a shared expression), so
    the four regression sums are exact decimal aggregates; slope and
    scale are one shared float expression over five scalars per group.
    Shape: one per-group rank window (the exact-quantile cost, as in
    dq_tukey_outliers) + one partial aggregate."""
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.log(F.col("l_extendedprice")), 8)
        .cast("decimal(18,8)").alias("x"),
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    y = F.round(
        F.log(-F.log(1 - (F.col("i") - 0.3) / (F.col("n") + 0.4))), 8
    ).cast("decimal(18,8)")
    pts = ranked.select("grp", "x", y.alias("y"))
    s = pts.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,16)"))
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,16)"))
        .alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    intercept = (sy - slope * sx) / nd
    return s.select(
        "grp", "n",
        F.round(slope, 6).alias("shape_k"),
        F.round(F.exp(-intercept / slope), 4).alias("scale_lambda"),
    )


_LB_LAGS = 5


@query(
    "stat_ljung_box",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE), 4) AS x
      FROM orders GROUP BY 1
    ), seq AS (
      SELECT x, row_number() OVER (ORDER BY d) AS rn,
             count(*) OVER () AS n,
             avg(x) OVER () AS m
      FROM daily
    ), lagged AS (
      SELECT s.rn, s.n, s.x, s.m, l.lag_k,
             lag(s.x, l.lag_k) OVER (PARTITION BY l.lag_k ORDER BY s.rn)
               AS xl
      FROM seq s CROSS JOIN (SELECT unnest(range(1, {_LB_LAGS + 1}))
                             AS lag_k) l
    ), cks AS (
      SELECT CAST(lag_k AS BIGINT) AS lag_k, max(n) AS n,
             sum(CASE WHEN xl IS NOT NULL THEN
               CAST(round((x - m) * (xl - m), 6) AS DECIMAL(28,6))
               ELSE CAST(0 AS DECIMAL(28,6)) END) AS ck
      FROM lagged GROUP BY lag_k
    ), c0 AS (
      SELECT sum(CAST(round((x - m) * (x - m), 6) AS DECIMAL(28,6)))
               AS c0, max(n) AS n
      FROM seq
    ), rs AS (
      SELECT k.lag_k, k.n,
             round(CAST(k.ck AS DOUBLE) / CAST(z.c0 AS DOUBLE), 8) AS r
      FROM cks k CROSS JOIN c0 z
    )
    SELECT lag_k, round(r, 6) AS acf,
           round(CAST(sum(CAST(round(
             n * (n + 2) * r * r / (n - lag_k), 8) AS DECIMAL(20,8)))
             OVER (ORDER BY lag_k) AS DOUBLE), 6) AS q_stat
    FROM rs
    """,
)
def stat_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test on the daily-revenue series: is there
    ANY autocorrelation in the first {_LB_LAGS} lags? Q(K) =
    n(n+2)·Σ_k r_k²/(n−k), emitted cumulatively per lag so the row set
    doubles as an ACF table (`stat_autocorr` is the single-lag
    special case; residual diagnostics after any forecast —
    `stat_backtest_snaive` — start with exactly this statistic).

    Exactness: the series is days-sized with 4dp-rounded values, so
    both engines window IDENTICAL doubles; every centered product and
    every Q term is quantized to decimal before summation
    (order-independent); the ACF ratio is one shared expression.
    Shape: one fact-table day aggregate, then everything runs on the
    ~2400-row series — metadata."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 4,
        ).alias("x")
    )
    seq = daily.select(
        "x",
        F.row_number().over(Window.orderBy("d")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        F.avg("x").over(Window.partitionBy()).alias("m"),
    )
    lags = spark.range(1, _LB_LAGS + 1).select(
        F.col("id").cast("int").alias("lag_k")
    )
    lagged = seq.crossJoin(F.broadcast(lags))
    # per-lag shifted value: lag(x, k) with variable k is not a window
    # expression, so shift via a self-join on rn - lag_k
    shifted = seq.select(F.col("rn").alias("rn0"), F.col("x").alias("xl"))
    j = lagged.join(
        shifted,
        lagged["rn"] - lagged["lag_k"] == shifted["rn0"],
        "left",
    )
    ck = j.groupBy("lag_k").agg(
        F.max("n").alias("n"),
        F.sum(
            F.when(
                F.col("xl").isNotNull(),
                F.round(
                    (F.col("x") - F.col("m")) * (F.col("xl") - F.col("m")),
                    6,
                ).cast("decimal(28,6)"),
            ).otherwise(F.lit(0).cast("decimal(28,6)"))
        ).alias("ck"),
    )
    c0 = seq.agg(
        F.sum(
            F.round(
                (F.col("x") - F.col("m")) * (F.col("x") - F.col("m")), 6
            ).cast("decimal(28,6)")
        ).alias("c0")
    )
    rs = ck.crossJoin(F.broadcast(c0)).select(
        F.col("lag_k").cast("long").alias("lag_k"), "n",
        F.round(
            F.col("ck").cast("double") / F.col("c0").cast("double"), 8
        ).alias("r"),
    )
    term = F.round(
        F.col("n") * (F.col("n") + 2) * F.col("r") * F.col("r")
        / (F.col("n") - F.col("lag_k")),
        8,
    ).cast("decimal(20,8)")
    w = Window.orderBy("lag_k").rowsBetween(Window.unboundedPreceding, 0)
    return rs.select(
        "lag_k",
        F.round(F.col("r"), 6).alias("acf"),
        F.round(F.sum(term).over(w).cast("double"), 6).alias("q_stat"),
    )


#: z_{0.975} and z_{0.8}: two-sided alpha = 0.05, power = 0.8
_PW_Z_ALPHA = 1.959963984540054


_PW_Z_BETA = 0.8416212335729143


@query(
    "stat_power_analysis",
    f"""
    WITH g AS (
      SELECT o_orderpriority = '1-URGENT' AS urgent,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(28,2)) AS s1,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                           * CAST(o_totalprice AS DECIMAL(18,2))
                           AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS s2
      FROM orders GROUP BY 1
    ), w AS (
      SELECT max(CASE WHEN urgent THEN n END) AS n1,
             max(CASE WHEN urgent THEN s1 END) AS a1,
             max(CASE WHEN urgent THEN s2 END) AS b1,
             max(CASE WHEN NOT urgent THEN n END) AS n2,
             max(CASE WHEN NOT urgent THEN s1 END) AS a2,
             max(CASE WHEN NOT urgent THEN s2 END) AS b2
      FROM g
    )
    SELECT round(CAST(a1 AS DOUBLE) / n1 - CAST(a2 AS DOUBLE) / n2, 4)
             AS observed_diff,
           CAST(ceil(
             2 * pow(({_PW_Z_ALPHA} + {_PW_Z_BETA})
                     * sqrt(((CAST(b1 AS DOUBLE) - CAST(a1 AS DOUBLE)
                               * CAST(a1 AS DOUBLE) / n1)
                            + (CAST(b2 AS DOUBLE) - CAST(a2 AS DOUBLE)
                               * CAST(a2 AS DOUBLE) / n2))
                            / (n1 + n2 - 2))
                     / (CAST(a1 AS DOUBLE) / n1
                        - CAST(a2 AS DOUBLE) / n2), 2)
           ) AS BIGINT) AS n_per_arm_needed,
           n1 + n2 AS n_observed
    FROM w
    """,
)
def stat_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prospective power analysis from observed moments: the sample
    size PER ARM needed to detect the currently-observed mean
    difference at α=0.05 two-sided with 80% power — n = 2((z_α+z_β)·
    σ_pooled/δ)², the closed form every experiment-sizing calculator
    implements. Run before an A/B test, it converts `stat_cohens_d`'s
    effect size into a concrete duration estimate.

    One conditional-moment pass; z quantiles are shared literals (no
    inverse-normal in either engine); the sizing formula is one shared
    float expression over six exact scalars."""
    o = table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    g = o.groupBy(
        (F.col("o_orderpriority") == "1-URGENT").alias("urgent")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(p).cast("decimal(28,2)").alias("s1"),
        F.sum((p * p).cast("decimal(38,4)")).cast("decimal(38,4)")
        .alias("s2"),
    )
    w = g.agg(
        F.max(F.when(F.col("urgent"), F.col("n"))).alias("n1"),
        F.max(F.when(F.col("urgent"), F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("urgent"), F.col("s2"))).alias("b1"),
        F.max(F.when(~F.col("urgent"), F.col("n"))).alias("n2"),
        F.max(F.when(~F.col("urgent"), F.col("s1"))).alias("a2"),
        F.max(F.when(~F.col("urgent"), F.col("s2"))).alias("b2"),
    )
    m1 = F.col("a1").cast("double") / F.col("n1")
    m2 = F.col("a2").cast("double") / F.col("n2")
    ss = (
        (F.col("b1").cast("double")
         - F.col("a1").cast("double") * F.col("a1").cast("double")
         / F.col("n1"))
        + (F.col("b2").cast("double")
           - F.col("a2").cast("double") * F.col("a2").cast("double")
           / F.col("n2"))
    )
    pooled_sd = F.sqrt(ss / (F.col("n1") + F.col("n2") - 2))
    n_needed = F.ceil(
        2 * F.pow(
            (_PW_Z_ALPHA + _PW_Z_BETA) * pooled_sd / (m1 - m2), 2
        )
    ).cast("long")
    return w.select(
        F.round(m1 - m2, 4).alias("observed_diff"),
        n_needed.alias("n_per_arm_needed"),
        (F.col("n1") + F.col("n2")).alias("n_observed"),
    )


@query(
    "stat_histogram_log",
    """
    SELECT CAST(floor(ln(o_totalprice) / ln(2)) AS BIGINT) AS log2_bin,
           CAST(pow(2, floor(ln(o_totalprice) / ln(2))) AS DOUBLE)
             AS bin_lo,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS mass
    FROM orders WHERE o_totalprice > 0
    GROUP BY 1, 2
    """,
)
def stat_histogram_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-spaced histogram — the binning heavy-tailed quantities need
    (`stat_histogram`'s linear bins put 99% of a power-law in bucket 0
    and the max alone in the last): each doubling of order value is one
    bin, so latencies, file sizes, and payment amounts all render
    readably. Bin id is codegen ``floor(ln x / ln 2)`` — exact integer
    agreement across engines since both evaluate the identical double
    expression; one partial-aggregating shuffle on ≤ ~40 bins."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    bin_ = F.floor(F.log("o_totalprice") / F.log(F.lit(2.0)))
    return o.groupBy(
        bin_.cast("long").alias("log2_bin"),
        F.pow(F.lit(2.0), bin_).cast("double").alias("bin_lo"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 2,
        ).alias("mass"),
    )


@query(
    "stat_entropy_rate",
    """
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ), c AS (
      SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
    rows_ AS (
      SELECT prev, n, t,
             sum(n) OVER (PARTITION BY prev) AS row_n
      FROM c CROSS JOIN tot
    ), terms AS (
      SELECT CAST(round(
               -(CAST(n AS DOUBLE) / t)
               * ln(CAST(n AS DOUBLE) / row_n) / ln(2), 10)
               AS DECIMAL(20,10)) AS h
      FROM rows_
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_transitions,
           round(CAST(sum(h) AS DOUBLE), 6) AS entropy_rate_bits
    FROM terms
    """,
)
def stat_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-event Markov chain — H = −Σ_ij π_i
    P_ij log₂ P_ij with the stationary weights taken empirically
    (π_i P_ij = transition count / total): bits of surprise per event
    given the previous one. THE sequence-predictability number:
    near 0 = deterministic flows (bots, scripted monitors), near
    log₂|types| = uniform chaos; session-model quality is judged
    against exactly this floor (`event_transition_matrix` is the
    matrix; this is its summary invariant).

    Per-cell terms are one shared float expression over exact counts,
    quantized to DECIMAL(20,10) before the grid-size sum. One lag
    window + one grid aggregate; everything after runs on |types|²
    rows."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev"),
    )
    c = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = c.agg(F.sum("n").cast("long").alias("t"))
    rows_ = c.crossJoin(F.broadcast(tot)).withColumn(
        "row_n", F.sum("n").over(Window.partitionBy("prev"))
    )
    h = F.round(
        -(F.col("n").cast("double") / F.col("t"))
        * F.log(F.col("n").cast("double") / F.col("row_n"))
        / F.log(F.lit(2.0)),
        10,
    ).cast("decimal(20,10)")
    n_trans = c.count()
    s = rows_.select(h.alias("h")).agg(
        F.round(F.sum("h").cast("double"), 6).alias("entropy_rate_bits")
    )
    return s.select(
        F.lit(n_trans).cast("long").alias("n_transitions"),
        "entropy_rate_bits",
    )


@query(
    "stat_mcnemar",
    """
    WITH t AS (
      SELECT (o_totalprice >= 150000) =
               (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS a_right,
             (o_totalprice >= 100000) =
               (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS b_right
      FROM orders
    )
    SELECT CAST(count(*) FILTER (WHERE a_right AND NOT b_right)
                AS BIGINT) AS b,
           CAST(count(*) FILTER (WHERE b_right AND NOT a_right)
                AS BIGINT) AS c,
           round(pow(CAST(count(*) FILTER (WHERE a_right AND NOT b_right)
                          AS DOUBLE)
                     - count(*) FILTER (WHERE b_right AND NOT a_right), 2)
                 / (count(*) FILTER (WHERE a_right AND NOT b_right)
                    + count(*) FILTER (WHERE b_right AND NOT a_right)),
                 6) AS chi2
    FROM t
    """,
)
def stat_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test — the PAIRED comparison of two classifiers on the
    same rows (threshold stumps at 150k vs 100k): only the discordant
    cells matter (b = A right & B wrong, c = the reverse), χ² =
    (b−c)²/(b+c). Comparing accuracies with an unpaired test throws
    away the pairing and overstates uncertainty — this is the correct
    "is model A actually better" statistic, and it completes the eval
    family beside `ml_kfold_cv` (which selects) and `ml_pr_curve`
    (which characterizes). One conditional-count pass; χ² is a shared
    expression over two exact integers."""
    o = table(spark, sf_dir, "orders")
    label = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    a_right = (F.col("o_totalprice") >= 150000) == label
    b_right = (F.col("o_totalprice") >= 100000) == label
    t = o.select(a_right.alias("ar"), b_right.alias("br"))
    return t.agg(
        F.count_if(F.col("ar") & ~F.col("br")).alias("b"),
        F.count_if(F.col("br") & ~F.col("ar")).alias("c"),
        F.round(
            F.pow(
                F.count_if(F.col("ar") & ~F.col("br")).cast("double")
                - F.count_if(F.col("br") & ~F.col("ar")),
                2,
            )
            / (
                F.count_if(F.col("ar") & ~F.col("br"))
                + F.count_if(F.col("br") & ~F.col("ar"))
            ),
            6,
        ).alias("chi2"),
    )


_BAYES_Z = (
    "((CAST(a1 AS DOUBLE) / n1 - CAST(a2 AS DOUBLE) / n2) "
    "/ sqrt((CAST(b1 AS DOUBLE) - CAST(a1 AS DOUBLE) * CAST(a1 AS DOUBLE)"
    " / n1) / (n1 - 1) / n1"
    " + (CAST(b2 AS DOUBLE) - CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)"
    " / n2) / (n2 - 1) / n2))"
)


@query(
    "stat_bayes_prob",
    f"""
    WITH g AS (
      SELECT o_orderpriority = '1-URGENT' AS urgent,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(28,2)) AS s1,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                           * CAST(o_totalprice AS DECIMAL(18,2))
                           AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS s2
      FROM orders GROUP BY 1
    ), w AS (
      SELECT max(CASE WHEN urgent THEN n END) AS n1,
             max(CASE WHEN urgent THEN s1 END) AS a1,
             max(CASE WHEN urgent THEN s2 END) AS b1,
             max(CASE WHEN NOT urgent THEN n END) AS n2,
             max(CASE WHEN NOT urgent THEN s1 END) AS a2,
             max(CASE WHEN NOT urgent THEN s2 END) AS b2
      FROM g
    )
    SELECT round({_BAYES_Z}, 6) AS z,
           round(CASE WHEN {_BAYES_Z} >= 0
                 THEN 1 - {normal_sf_expr(f"({_BAYES_Z})")}
                 ELSE {normal_sf_expr(f"(-({_BAYES_Z}))")} END, 6)
             AS p_urgent_higher
    FROM w
    """,
)
def stat_bayes_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(urgent mean > non-urgent mean | data) under a flat-prior
    normal approximation — the Bayesian readout product teams actually
    want ("what's the chance B beats A") instead of a p-value's double
    negative. Equals Φ(z) for the Welch z of the two arms; Φ comes from
    the same generated Abramowitz–Stegun expression `stat_fdr_bh` uses
    (no erf in either engine), branch-symmetrized so the ≥/< cases use
    the approximation only on the non-negative half where it is
    defined. One conditional-moment pass, one shared expression."""
    o = table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    g = o.groupBy(
        (F.col("o_orderpriority") == "1-URGENT").alias("urgent")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(p).cast("decimal(28,2)").alias("s1"),
        F.sum((p * p).cast("decimal(38,4)")).cast("decimal(38,4)")
        .alias("s2"),
    )
    w = g.agg(
        F.max(F.when(F.col("urgent"), F.col("n"))).alias("n1"),
        F.max(F.when(F.col("urgent"), F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("urgent"), F.col("s2"))).alias("b1"),
        F.max(F.when(~F.col("urgent"), F.col("n"))).alias("n2"),
        F.max(F.when(~F.col("urgent"), F.col("s1"))).alias("a2"),
        F.max(F.when(~F.col("urgent"), F.col("s2"))).alias("b2"),
    )
    return w.selectExpr(
        f"round({_BAYES_Z}, 6) AS z",
        f"""round(CASE WHEN {_BAYES_Z} >= 0
             THEN 1 - {normal_sf_expr(f"({_BAYES_Z})")}
             ELSE {normal_sf_expr(f"(-({_BAYES_Z}))")} END, 6)
           AS p_urgent_higher""",
    )
