"""Advanced analytics: iterative graph algorithms, CDC application,
statistical quality checks, regression, and time-series interpolation.

Scale notes:
- ``graph_pagerank`` is the iterative-algorithm template: edges are
  ``localCheckpoint``-ed ONCE before the loop (re-reading the upstream
  join every iteration re-executes the whole pipeline — the measured
  trap from the connected-components op), each iteration is one
  join + one key-shuffle aggregate, and per-iteration contribution sums
  run in DECIMAL(38,18) so the result is bit-identical regardless of
  partition count or merge order — the property that makes the fixed-
  point verifiable across engines AND across cluster sizes.
- ``etl_cdc_apply`` collapses a change log to final state with one
  window shuffle (latest-wins by sequence, deletes drop the key) — the
  streaming-upsert companion to the SCD ops; no driver-side diffing.
- ``dq_outlier`` / ``stat_linreg`` compute mean/variance/co-moments
  from DECIMAL sums (associative ⇒ engine- and order-exact), then do
  the final scalar algebra in DOUBLE on identical inputs. The sums are
  single-pass mergeable aggregates — the 100 TB shape — and the
  z-threshold comparison is exact, not float-fuzzy.
- ``win_interpolate`` fills series gaps with one window sort: both
  bracketing anchors (last/first non-null value and their positions)
  come from the same partition-ordered frame, so the whole op is a
  single Exchange + Sort reused by all six window expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.registry import query

_PAGERANK_ORACLE = """
WITH pairs AS (
    SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                    's' || CAST(l_suppkey AS VARCHAR) AS s
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
    SELECT c AS src, s AS dst FROM pairs
    UNION ALL
    SELECT s AS src, c AS dst FROM pairs
), deg AS (
    SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
), nn AS (
    SELECT count(*) AS n FROM deg
), pr0 AS (
    SELECT src AS node, 1.0 / (SELECT n FROM nn) AS pr FROM deg
), pr1 AS (
    SELECT e.dst AS node,
           0.15 / (SELECT n FROM nn)
           + 0.85 * CAST(sum(CAST(p.pr / d.outdeg AS DECIMAL(38,18)))
                         AS DOUBLE) AS pr
    FROM edges e JOIN pr0 p ON e.src = p.node JOIN deg d ON e.src = d.src
    GROUP BY e.dst
), pr2 AS (
    SELECT e.dst AS node,
           0.15 / (SELECT n FROM nn)
           + 0.85 * CAST(sum(CAST(p.pr / d.outdeg AS DECIMAL(38,18)))
                         AS DOUBLE) AS pr
    FROM edges e JOIN pr1 p ON e.src = p.node JOIN deg d ON e.src = d.src
    GROUP BY e.dst
), pr3 AS (
    SELECT e.dst AS node,
           0.15 / (SELECT n FROM nn)
           + 0.85 * CAST(sum(CAST(p.pr / d.outdeg AS DECIMAL(38,18)))
                         AS DOUBLE) AS pr
    FROM edges e JOIN pr2 p ON e.src = p.node JOIN deg d ON e.src = d.src
    GROUP BY e.dst
)
SELECT node, round(pr, 10) AS pagerank
FROM pr3
ORDER BY pagerank DESC, node
LIMIT 50
"""


@query("graph_pagerank", _PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, damping 0.85) over the undirected
    customer↔supplier trading graph — the template for iterative
    numeric algorithms on Spark. Per iteration: one equi-join of the
    rank vector onto the checkpointed edge list, one aggregate on the
    destination key. Contribution sums run in DECIMAL(38,18): decimal
    addition is associative, so every iteration's vector is
    bit-identical whether computed on 1 partition or 10,000 — which is
    also what makes a fixed-iteration oracle possible at all.

    The node count N is a single driver-side scalar (broadcast-scale
    metadata, same precedent as the IVF centroids); edges
    ``localCheckpoint`` once so iteration k doesn't re-execute the
    upstream join k times."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
    n_nodes = deg.count()  # one scalar to the driver, reused as a literal

    pr = deg.select(F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("pr"))
    edges_deg = edges.join(deg, "src").select("src", "dst", "outdeg")
    for _ in range(3):
        pr = (
            edges_deg.join(pr, edges_deg.src == pr.node)
            .select(
                F.col("dst"),
                (F.col("pr") / F.col("outdeg")).cast("decimal(38,18)").alias("contrib"),
            )
            .groupBy("dst")
            .agg(
                (
                    F.lit(0.15 / n_nodes)
                    + F.lit(0.85) * F.sum("contrib").cast("double")
                ).alias("pr")
            )
            .select(F.col("dst").alias("node"), "pr")
        )
    return (
        pr.select("node", F.round("pr", 10).alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), F.col("node"))
        .limit(50)
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
    "win_interpolate",
    """
    WITH series AS (
        SELECT o_custkey, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderkey) AS rn,
               CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS v
        FROM orders
    ), anchored AS (
        SELECT o_custkey, o_orderkey, rn, v,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY o_custkey ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
               max(CASE WHEN v IS NOT NULL THEN rn END) OVER (
                   PARTITION BY o_custkey ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_rn,
               first_value(v IGNORE NULLS) OVER (
                   PARTITION BY o_custkey ORDER BY rn
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
               min(CASE WHEN v IS NOT NULL THEN rn END) OVER (
                   PARTITION BY o_custkey ORDER BY rn
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_rn
        FROM series
    )
    SELECT o_custkey, o_orderkey,
           -- floor(x*1e4+0.5)/1e4, not round(): the engines' round()
           -- disagree on half-ulp boundaries (e.g. x.48625)
           floor(CASE
               WHEN v IS NOT NULL THEN v
               WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
               ELSE prev_v + (next_v - prev_v) * (rn - prev_rn)
                    / (next_rn - prev_rn)
           END * 10000 + 0.5) / 10000 AS filled
    FROM anchored
    """,
)
def win_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of series gaps (non-final orders have no
    observed value; fill between the bracketing finalized ones). The
    LOCF op (`win_fill_forward`) carries the LAST value flat; this op
    slopes between BOTH anchors — the time-series imputation a feature
    pipeline wants. All six window expressions (both anchor values,
    both anchor positions, row number) share one partition-ordered
    frame: a single Exchange + Sort serves the whole op. The float
    interpolation expression is written identically in both engines
    (same association order), so the oracle is exact at 4dp; leading/
    trailing gaps stay NULL by design."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("rn")
    back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    base = o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderkey"))
        .alias("rn"),
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).alias("v"),
    )
    marked = F.when(F.col("v").isNotNull(), F.col("rn"))
    anchored = base.select(
        "o_custkey",
        "o_orderkey",
        "rn",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("prev_v"),
        F.max(marked).over(back).alias("prev_rn"),
        F.first("v", ignorenulls=True).over(fwd).alias("next_v"),
        F.min(marked).over(fwd).alias("next_rn"),
    )
    interp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (
        F.col("rn") - F.col("prev_rn")
    ) / (F.col("next_rn") - F.col("prev_rn"))
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev_v").isNull() | F.col("next_v").isNull(), F.lit(None))
        .otherwise(interp)
    )
    # floor(x*1e4+0.5)/1e4 instead of round(): engine round() semantics
    # disagree on half-ulp boundaries.
    return anchored.select(
        "o_custkey",
        "o_orderkey",
        (F.floor(filled * 10000 + F.lit(0.5)) / 10000).alias("filled"),
    )


@query(
    "win_ewma",
    """
    WITH RECURSIVE s AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), r AS (
        SELECT user_id, event_id, rn, CAST(value AS DOUBLE) AS ewma
        FROM s WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.event_id, s.rn,
               (1 - 0.3) * r.ewma + 0.3 * s.value
        FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id,
           floor(ewma * 1000000 + 0.5) / 1000000 AS ewma
    FROM r
    """,
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per entity — the
    recurrence ewma_t = (1-α)·ewma_{t-1} + α·x_t is inherently
    sequential, which plain window frames can't express (the weight
    depends on BOTH rows' positions). The Spark-native answer is
    `applyInPandas`: one shuffle on the entity key, then pandas'
    C-loop `ewm(adjust=False)` per group — Arrow-batched, vectorized,
    state O(1) per row. Entity count scales the parallelism; series
    length is sequential per entity, which is intrinsic to the op.

    The oracle runs the SAME recurrence as a DuckDB recursive CTE —
    pandas ewm(adjust=False) is proven bit-identical to the
    (1-α)·prev + α·x float sequence, so parity is exact at 6dp
    floor-rounding (round() half-ulp semantics differ across
    engines)."""
    import pandas as pd

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        e = pdf["value"].ewm(alpha=0.3, adjust=False).mean()
        import numpy as np

        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ewma": np.floor(e * 1000000 + 0.5) / 1000000,
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        ewma, "user_id long, event_id long, ewma double"
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
    from xlsx_to_database_spark.operators.global_order import with_global_ntile

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


_KMEANS_ORACLE = """
WITH v AS (
    SELECT vec_id,
           list_transform(embedding, x -> round(CAST(x AS DOUBLE), 4)) AS e
    FROM embeddings
), c0 AS (
    SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < 4
), a1 AS (
    SELECT vec_id, cid, e FROM (
        SELECT v.vec_id, c0.cid, v.e,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_sum(list_transform(
                       generate_series(1, len(v.e)),
                       i -> (v.e[i] - c0.c[i]) * (v.e[i] - c0.c[i]))) ASC,
                   c0.cid ASC) AS rn
        FROM v CROSS JOIN c0
    ) WHERE rn = 1
), c1 AS (
    SELECT cid, list(m ORDER BY dim) AS c FROM (
        SELECT a1.cid, i AS dim,
               round(CAST(sum(CAST(a1.e[i] AS DECIMAL(28,10))) AS DOUBLE)
                     / count(*), 6) AS m
        FROM a1, UNNEST(generate_series(1, len(a1.e))) AS t(i)
        GROUP BY a1.cid, i
    ) GROUP BY cid
), a2 AS (
    SELECT vec_id, cid, d FROM (
        SELECT v.vec_id, c1.cid,
               round(list_sum(list_transform(
                   generate_series(1, len(v.e)),
                   i -> (v.e[i] - c1.c[i]) * (v.e[i] - c1.c[i]))), 4) AS d,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_sum(list_transform(
                       generate_series(1, len(v.e)),
                       i -> (v.e[i] - c1.c[i]) * (v.e[i] - c1.c[i]))) ASC,
                   c1.cid ASC) AS rn
        FROM v CROSS JOIN c1
    ) WHERE rn = 1
)
SELECT CAST(cid AS BIGINT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(CAST(d AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4)
           AS mean_sq_dist
FROM a2 GROUP BY cid
"""


@query("ml_kmeans", _KMEANS_ORACLE)
def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=4, one full assign→update→assign round) over the
    embedding table — the iterative-ML template, engine-exact: vectors are
    quantized to 4dp up front, centroid updates are DECIMAL-summed
    per (cluster, dimension) and rounded to 6dp before feeding the next
    assignment (the pagerank discipline: both engines carry IDENTICAL
    doubles forward, so a fixed-iteration oracle exists at all).

    Scale shape per iteration: centroids are k×d driver metadata
    (IVF-centroid precedent) inlined as literals, so ASSIGNMENT is a
    map-only codegen pass — no join, no shuffle of vectors; the UPDATE
    is one posexplode + (cluster, dim) hash aggregate whose shuffle
    carries scalars, never vectors (sim_centroids shape). Deterministic
    ties: argmin breaks on centroid id; init = first k vec_ids."""
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: F.round(x.cast("double"), 4)).alias(
            "e"
        ),
    )
    init = {
        r["vec_id"]: r["e"]
        for r in v.filter(F.col("vec_id") < 4).collect()
    }

    def assign(cents: dict[int, list[float]], with_dist: bool):
        """Map-only argmin over literal centroids (codegen, no shuffle),
        as one parsed SQL string. The argmin runs over UNROUNDED
        squared distances, (d, cid) struct-min tie-break; only the
        reported distance is rounded, to 4 places."""
        from xlsx_to_database_spark.operators.similarity import _sq_l2_sql

        structs = ", ".join(
            f"struct({_sq_l2_sql('e', cents[cid])} AS d, {cid} AS cid)"
            for cid in sorted(cents)
        )
        best = f"array_min(array({structs}))"
        cols = ["vec_id", f"{best}.cid AS cid"]
        if with_dist:
            cols.append(f"round({best}.d, 4) AS d")
        return v.selectExpr(*cols)

    a1 = assign(init, with_dist=False)
    upd = (
        a1.join(v, "vec_id")
        .select("cid", F.posexplode("e").alias("dim", "x"))
        .groupBy("cid", "dim")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(28,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("m")
        )
    )
    cents1 = {}
    for r in upd.collect():  # k*d scalars — driver metadata, like init
        cents1.setdefault(r["cid"], {})[r["dim"]] = r["m"]
    cents1 = {cid: [ms[i] for i in sorted(ms)] for cid, ms in cents1.items()}
    a2 = assign(cents1, with_dist=True)
    return a2.groupBy(F.col("cid").cast("long").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(F.col("d").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_sq_dist"),
    )
