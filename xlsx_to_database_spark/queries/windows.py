"""Window function operators (SURVEY.md §2.5).

Every window here has a TOTAL ordering (key columns appended to the
orderBy) so ranks/frames are deterministic and hash-match the oracle —
the one discipline window parity lives or dies by.

Scale: a window shuffles once on its partition key and sorts within
partitions; none of these materialize a whole partition on the driver.
Skewed partition keys (a user with millions of events) are the risk at
100 TB — AQE skew handling covers joins, while windows want a bounded
key domain (user_id, custkey) which these all have.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators.global_order import (
    with_global_ntile,
    with_global_row_number,
)
from xlsx_to_database_spark.queries import fquant
from xlsx_to_database_spark.registry import query


@query(
    "win_row_number",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three biggest orders per customer."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@query(
    "win_rank_dense",
    """
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS price_rank,
           dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS price_dense_rank
    FROM orders
    WHERE o_totalprice > 400000
    """,
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank — ties share a rank, so no tiebreak column is
    needed for determinism (unlike row_number)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


@query(
    "win_ntile",
    """
    SELECT c_custkey, c_acctbal,
           ntile(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS bal_quartile
    FROM customer
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles by account balance; custkey tiebreak pins bucket edges.

    A naive global ``ntile`` is a single-partition WindowExec — the one
    window shape that cannot scale. This computes the identical result
    with the two-phase distributed global order (range-bucket on
    approx-quantile boundaries + per-bucket offsets, see
    operators/global_order.py): the sort parallelizes across buckets
    and no task ever holds the full table."""
    c = table(spark, sf_dir, "customer")
    return with_global_ntile(
        c,
        [F.col("c_acctbal").asc(), F.col("c_custkey").asc()],
        "c_acctbal",
        4,
        out="bal_quartile",
    ).select("c_custkey", "c_acctbal", "bal_quartile")


@query(
    "win_percent_cume",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           round(percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal), 6) AS bal_pct_rank,
           round(cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal), 6) AS bal_cume
    FROM customer
    """,
)
def win_percent_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist are rank-based, hence tie-stable."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal"))
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("bal_cume"),
    )


@query(
    "win_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_day,
           CAST(lag(o_orderdate) OVER w AS DATE) AS prev_day,
           CAST(lead(o_orderdate) OVER w AS DATE) AS next_day,
           date_diff('day',
                     CAST(lag(o_orderdate) OVER w AS DATE),
                     CAST(o_orderdate AS DATE)) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous/next order date per customer + day gap. Spark's
    datediff(end, start) == DuckDB date_diff('day', start, end) — note
    the flipped argument order."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    day = F.col("o_orderdate").cast("date")
    prev_day = F.lag(F.col("o_orderdate")).over(w).cast("date")
    return o.select(
        "o_custkey",
        "o_orderkey",
        day.alias("order_day"),
        prev_day.alias("prev_day"),
        F.lead(F.col("o_orderdate")).over(w).cast("date").alias("next_day"),
        F.datediff(day, prev_day).alias("days_since_prev"),
    )


@query(
    "win_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate ASC, o_orderkey ASC
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer in order-date order. The total
    ordering also fixes the float accumulation order, so 2dp rounding is
    engine-stable."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend")
    )


@query(
    "win_moving_avg",
    """
    SELECT user_id, event_id,
           round(avg(value) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC
                                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS value_ma7
    FROM events
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average of event value per user."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "user_id", "event_id", F.round(F.avg("value").over(w), 4).alias("value_ma7")
    )


@query(
    "win_range_frame",
    """
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           count(*) OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice
                          RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW) AS peers_within_5k
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range frame on a numeric ordering: how many same-priority
    orders are priced within 5000 below this one. Range frames are
    value-based → tie-stable by construction."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice"))
        .rangeBetween(-5000, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("peers_within_5k"),
    )


@query(
    "win_first_last",
    """
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER w AS latest_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last order key per customer over the full-partition frame
    (default frames differ between engines for last_value — always
    spell the frame out)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("latest_order"),
    )


@query(
    "win_time_range",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL '7 days' PRECEDING AND CURRENT ROW), 2)
             AS trailing_7d
    FROM orders
    """,
)
def win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: trailing-7-day spend per customer at
    every order. Unlike a ROWS frame, the frame is defined by the
    *timestamp value* — peers with equal order dates enter the frame
    together, which also makes the sum deterministic under ties (no
    tie-break column needed; a ROWS frame would need one). One shuffle
    on custkey, sort within partitions, single forward pass."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_wtr")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_orderdate,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW), 2)
                 AS trailing_7d
        FROM __orders_wtr
        """
    )


@query(
    "win_sessionize",
    """
    SELECT user_id, event_id, ts,
           CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id
    FROM (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    )
    """,
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): number each user's
    sessions with a 30-minute inactivity gap — `lag` flags session
    starts, a running sum turns flags into session ids. The batch twin
    of `stream_session`: same semantics, two window passes over ONE
    shuffle+sort on user_id (Catalyst reuses the sort for both windows
    since partition+order match). The gap compares microsecond epochs —
    a seconds cast would truncate and could sessionize a fractionally
    >30min gap differently from the oracle's exact interval compare."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0).alias("is_new"),
    )
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return flagged.select(
        "user_id", "event_id", "ts", F.sum("is_new").over(run).alias("session_id")
    )


@query(
    "win_fill_forward",
    """
    SELECT user_id, event_id, ts, k_val,
           last_value(k_val IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k_filled
    FROM (
        SELECT user_id, event_id, ts,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        FROM events
    )
    """,
)
def win_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF — last observation carried forward): propagate
    each user's most recent non-null reading over gaps, the timeseries
    repair step before any resampling. `last(ignoreNulls)` over a
    running frame — one shuffle on user_id, single forward pass, no
    self-join and no driver loop. Rows before a user's first reading
    stay NULL (identically in both engines)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "k_val",
        F.last("k_val", ignorenulls=True).over(w).alias("k_filled"),
    )


@query(
    "win_nth_value",
    """
    SELECT o_custkey, o_orderkey,
           nth_value(o_orderkey, 3) OVER w AS third_order,
           CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over the full partition frame: each order row sees the
    customer's third-ever order (null for customers with fewer than 3).
    The frame is spelled out — engines disagree on nth_value's default
    frame the same way they do for last_value."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.nth_value("o_orderkey", 3).over(w).alias("third_order"),
        F.count(F.lit(1)).over(Window.partitionBy("o_custkey")).cast("long").alias("n_orders"),
    )


@query(
    "win_running_distinct",
    """
    WITH marked AS (
        -- first occurrence per (user, type) WITHOUT partitioning on the
        -- type: order the user's rows by (type, ts, id) and flag block
        -- starts with lag() - keeps every window on the user_id
        -- partitioning so the whole op needs ONE shuffle
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER (
                        PARTITION BY user_id
                        ORDER BY event_type, ts, event_id)
                    IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS first_seen
        FROM events
    )
    SELECT user_id, ts, event_id,
           CAST(sum(first_seen) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS distinct_types_so_far
    FROM marked
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — which Spark (and ANSI
    SQL) reject directly. The decomposition: flag each value's FIRST
    occurrence per (user, value) via a lag() block-start flag over
    (value, ts) ordering, then a running sum of flags over the user's
    timeline. The flag window deliberately partitions on user_id ALONE
    (ordering by type inside) rather than (user_id, type): both windows
    then share one partitioning and the whole op is a single Exchange
    with two Sorts (plan-asserted) — a (user, type)-partitioned
    row_number would force a second shuffle. State is
    O(1) per row vs the naive collect_set-and-size approach, whose
    per-row set materialization is O(distinct) memory and no codegen.
    Total tie-break (ts, event_id) keeps both engines' orderings
    identical."""
    ev = table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id").orderBy("event_type", "ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_type = F.lag("event_type").over(w_first)
    return (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.when(
                prev_type.isNull() | (prev_type != F.col("event_type")), 1
            ).otherwise(0).alias("first_seen"),
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            F.sum("first_seen").over(w_run).cast("long").alias(
                "distinct_types_so_far"
            ),
        )
    )


@query(
    "win_global_rank",
    """
    SELECT o_orderkey, o_totalprice,
           CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                AS BIGINT) AS price_rank
    FROM orders
    """,
)
def win_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact GLOBAL rank over the full fact table — the operation that,
    written naively (``row_number() OVER (ORDER BY ...)`` with no
    partition), funnels every row through one task. Implemented with the
    two-phase distributed global order (operators/global_order.py):
    approx-quantile range buckets over the driving key, per-bucket
    row_number, exclusive bucket-prefix offsets broadcast back. Exactly
    the single-partition answer, but the sort runs bucket-parallel and
    peak per-task memory is ~1/B of the input — this survives 100 TB
    where the naive plan OOMs one executor. DESC order is handled by
    ranking on the negated driving key (boundaries stay ascending)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    neg = o.withColumn("__neg", -F.col("o_totalprice"))
    return (
        with_global_row_number(
            neg,
            [F.col("__neg").asc(), F.col("o_orderkey").asc()],
            "__neg",
            out="price_rank",
        )
        .drop("__neg")
        .select("o_orderkey", "o_totalprice", "price_rank")
    )


@query(
    "win_rolling_median",
    """
    SELECT user_id, event_id,
           round(quantile_cont(value, 0.5) OVER (
               PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS value_med7
    FROM events
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median over the trailing 7 events per user — the
    robust sibling of win_moving_avg (medians shrug off the spikes that
    wreck a mean-based alert). Spark has no windowed percentile, so the
    frame is materialized with collect_list over the same 7-row frame,
    sorted, and interpolated with quantile_cont semantics (pos =
    (n-1)/2, linear between the two bracketing order statistics — the
    identical arithmetic DuckDB runs). Frame state is O(7) per row, the
    window is one shuffle+sort on user_id shared with any other window
    on that key; a 10k-row frame would want a different algorithm
    (two-heap sketch in applyInPandas), 7 rows want exactly this."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-6, Window.currentRow)
    )
    a = F.array_sort(F.collect_list("value").over(w))
    n = F.size(a)
    pos = (n - 1).cast("double") / 2
    lo = F.element_at(a, F.floor(pos).cast("int") + 1)
    hi = F.element_at(a, F.ceil(pos).cast("int") + 1)
    med = lo + (hi - lo) * (pos - F.floor(pos))
    return ev.select(
        "user_id", "event_id", F.round(med, 4).alias("value_med7")
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
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        e = pdf["value"].ewm(alpha=0.3, adjust=False).mean()
        import numpy as np  # worker-side: imported where the UDF body runs

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
    "win_ohlc",
    """
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, bucket,
           round(CAST(max(CASE WHEN rn_a = 1 THEN value END) AS DOUBLE), 4)
             AS open,
           round(CAST(max(value) AS DOUBLE), 4) AS high,
           round(CAST(min(value) AS DOUBLE), 4) AS low,
           round(CAST(max(CASE WHEN rn_d = 1 THEN value END) AS DOUBLE), 4)
             AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM r GROUP BY event_type, bucket
    """,
)
def win_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling — the time-series rollup every metrics/market
    pipeline runs: per (series, hour) the first, max, min, and last
    value. First/last use ``min_by``/``max_by`` on a (ts, event_id)
    STRUCT — a total order, so ties at the same timestamp resolve
    identically on both engines — and the whole op is ONE hash
    aggregate with map-side partials: no window function over the fact
    stream, no sort, shuffle carries one row per (series, hour). The
    oracle spells the same semantics with rank windows (DuckDB's
    arg_min does not take composite keys)."""
    ev = table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket")
        ).agg(
            F.round(F.min_by("value", key).cast("double"), 4).alias("open"),
            F.round(F.max("value").cast("double"), 4).alias("high"),
            F.round(F.min("value").cast("double"), 4).alias("low"),
            F.round(F.max_by("value", key).cast("double"), 4).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "win_streaks",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), g AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id
                                           ORDER BY day) AS INT) AS grp
      FROM d
    ), s AS (
      SELECT user_id, grp, count(*) AS len FROM g GROUP BY user_id, grp
    )
    SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(sum(len) AS BIGINT) AS active_days
    FROM s GROUP BY user_id
    """,
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day streak per user — the engagement metric
    behind every 'N-day streak' badge, and the calendar cousin of
    `win_sessionize` (whose islands are time-GAP based, not
    calendar-consecutive). The date-minus-rank trick: within a user,
    consecutive days share ``day - row_number()`` (each next day
    advances both by one), so streaks become plain GROUP BY keys — no
    self-join, no recursive walk. Per-user partitions bound every
    window; days are deduped first so multi-event days count once."""
    ev = table(spark, sf_dir, "events")
    d = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    g = d.withColumn("grp", F.date_sub(F.col("day"), rn))
    s = g.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return s.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.sum("len").cast("long").alias("active_days"),
    )


@query(
    "win_drawdown",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_orderdate
    ), cm AS (
      SELECT day,
             sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
      FROM daily
    ), c AS (
      SELECT day,
             max(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) - cum
               AS dd,
             count(*) OVER () AS n_days
      FROM cm
    )
    SELECT day AS trough_day, round(CAST(dd AS DOUBLE), 2) AS max_drawdown,
           CAST(n_days AS BIGINT) AS n_days
    FROM c ORDER BY dd DESC, day LIMIT 1
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily-revenue series — the
    canonical running-peak-to-trough statistic (risk in finance, 'how
    far below our best have we fallen' anywhere else). Running sum,
    running max of it, and their difference are ALL exact DECIMAL (the
    one double conversion is display-side), so the argmax is
    engine-exact with the day as tie-break. Windows run over one row
    per calendar day (histogram-class, bounded at any SF); the scan +
    per-day aggregate is the only data-sized stage."""
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
    cum = F.sum("x").over(w_run)
    c = daily.select(
        F.col("day").alias("trough_day"),
        (F.max(cum).over(w_run) - cum).alias("dd"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_days"),
    )
    return c.orderBy(F.col("dd").desc(), "trough_day").limit(1).select(
        "trough_day",
        F.round(F.col("dd").cast("double"), 2).alias("max_drawdown"),
        "n_days",
    )


@query(
    "win_rolling_slope",
    """
    WITH base AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - min(CAST(floor(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY user_id) AS x,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      FROM events
    ), w AS (
      SELECT user_id, event_id,
             count(*) OVER f AS n,
             sum(x) OVER f AS sx, sum(y) OVER f AS sy,
             sum(x * x) OVER f AS sxx, sum(x * y) OVER f AS sxy
      FROM base
      WINDOW f AS (PARTITION BY user_id ORDER BY x, event_id
                   ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, CAST(n AS INT) AS n_frame,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0),
                 6) AS slope_cents_per_s
    FROM w
    """,
)
def win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS slope of event value over time, per user, trailing
    11-row frame — the windowed trend detector (is this metric rising
    and how fast?) that rolling means/correlations don't answer
    (`win_moving_avg` gives level, `stat_rolling_corr` direction
    strength; the slope gives RATE in units/second).

    Exactness: x is epoch-seconds re-based to the user's first event
    (keeps x² sums within long range at any horizon — slope is
    shift-invariant), y is value quantized to integer cents, so every
    windowed sum is exact integer; both engines combine the same five
    exact stats in one identical double expression, rounded to 6.
    NULL when the frame's x-variance is zero (first row / equal
    timestamps) via a NULLIF guard.

    Scale shape: one shuffle on user_id; frames are ROWS-bounded so
    state per window is O(11); no global window anywhere."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_id",
        (
            F.unix_timestamp("ts")
            - F.min(F.unix_timestamp("ts")).over(Window.partitionBy("user_id"))
        ).alias("x"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    f = (
        Window.partitionBy("user_id")
        .orderBy("x", "event_id")
        .rowsBetween(-10, Window.currentRow)
    )
    w = base.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(f).alias("n"),
        F.sum("x").over(f).alias("sx"),
        F.sum("y").over(f).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(f).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(f).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    return w.select(
        "user_id",
        "event_id",
        F.col("n").cast("int").alias("n_frame"),
        F.round(
            (nd * sxy - sx * sy)
            / F.nullif(nd * sxx - sx * sx, F.lit(0.0)),
            6,
        ).alias("slope_cents_per_s"),
    )


@query(
    "win_rolling_vwap",
    """
    WITH b AS (
      SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pc,
             CAST(l_quantity AS BIGINT) AS q
      FROM lineitem WHERE l_partkey % 50 = 7
    ), w AS (
      SELECT l_partkey, l_shipdate, l_orderkey,
             sum(pc) OVER f AS spq, sum(q) OVER f AS sq,
             count(*) OVER f AS n
      FROM b
      WINDOW f AS (PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber, pc, q
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT l_partkey, l_orderkey, CAST(n AS INT) AS n_frame,
           floor(CAST(spq AS DOUBLE) / CAST(sq AS DOUBLE) / 100
                 * 10000 + 0.5) / 10000 AS vwap
    FROM w
    """,
)
def win_rolling_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling volume-weighted average price per part over its shipment
    history (trailing 10 fills) — the weighted-window ratio pattern
    `win_moving_avg` (unweighted) can't express: the denominator is the
    window's QUANTITY mass, so heavy fills dominate, which is the
    correct price signal for execution analytics and cost-basis
    tracking. Extended price is already price×qty, so VWAP =
    Σ(extendedprice)/Σ(qty) over the frame.

    Exact: integer-cent and integer-quantity windowed sums; one shared
    double division, quantized with floor(x·1e4 + 0.5)/1e4 (pure double
    arithmetic, bit-identical across engines — round(x, 4) diverges by
    1 ulp on decimal-midpoint values; caught at sf0.1). One shuffle on
    the part key;
    ROWS-bounded frames keep per-row state O(10). The part filter
    (2% of parts) keeps the oracle bounded without changing the plan
    shape."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 50 == 7
    )
    b = li.select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("pc"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    # pc and q close the order: (orderkey, linenumber) is NOT a row id
    # on this synthetic data (~118k duplicated groups with different
    # rows), so every value-bearing column joins the sort key to make
    # frame contents partition-invariant.
    f = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "pc", "q")
        .rowsBetween(-9, Window.currentRow)
    )
    return b.select(
        "l_partkey",
        "l_orderkey",
        F.count(F.lit(1)).over(f).cast("int").alias("n_frame"),
        fquant(
            F.sum("pc").over(f).cast("double")
            / F.sum("q").over(f).cast("double")
            / 100,
            4,
        ).alias("vwap"),
    )


@query(
    "win_peaks",
    """
    WITH daily AS (
      SELECT o_orderdate AS d,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      FROM orders GROUP BY 1
    ), nb AS (
      SELECT d, v,
             lag(v)  OVER (ORDER BY d) AS pv,
             lead(v) OVER (ORDER BY d) AS nv,
             avg(CAST(v AS DOUBLE)) OVER (ORDER BY d
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS loc
      FROM daily
    )
    SELECT d AS peak_date, round(CAST(v AS DOUBLE) / 100, 2) AS revenue,
           round(CAST(v AS DOUBLE) / loc, 4) AS prominence
    FROM nb
    WHERE pv IS NOT NULL AND nv IS NOT NULL
      AND v > pv AND v > nv AND CAST(v AS DOUBLE) > 1.25 * loc
    """,
)
def win_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection on the daily-revenue series — strict local maxima
    (above both neighbors) with a PROMINENCE gate (≥1.25× the centered
    7-day local mean), which is what separates a real spike from the
    ambient sawtooth every daily series has (the alerting primitive
    behind anomaly feeds; `stat_control_chart` gates on global σ, this
    gates on LOCAL context, catching spikes inside high-variance
    regimes). Series is calendar-bounded, so the lag/lead/centered-mean
    windows are metadata-scale; only the daily aggregate touches the
    fact table. Integer-cent values; the prominence ratio is a shared
    double division, rounded 4."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("v")
    )
    w = Window.orderBy("d")
    wloc = Window.orderBy("d").rowsBetween(-3, 3)
    nb = daily.select(
        "d",
        "v",
        F.lag("v").over(w).alias("pv"),
        F.lead("v").over(w).alias("nv"),
        F.avg(F.col("v").cast("double")).over(wloc).alias("loc"),
    )
    return nb.filter(
        F.col("pv").isNotNull()
        & F.col("nv").isNotNull()
        & (F.col("v") > F.col("pv"))
        & (F.col("v") > F.col("nv"))
        & (F.col("v").cast("double") > 1.25 * F.col("loc"))
    ).select(
        F.col("d").alias("peak_date"),
        F.round(F.col("v").cast("double") / 100, 2).alias("revenue"),
        F.round(F.col("v").cast("double") / F.col("loc"), 4).alias(
            "prominence"
        ),
    )


@query(
    "win_reset_running_sum",
    """
    WITH b AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS reset
      FROM events
    ), seg AS (
      SELECT user_id, event_id, ts, cents,
             sum(reset) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS segment
      FROM b
    )
    SELECT user_id, event_id, CAST(segment AS BIGINT) AS segment,
           round(CAST(sum(cents) OVER (PARTITION BY user_id, segment
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING)
                      AS DOUBLE) / 100, 2) AS running_since_signup
    FROM seg
    """,
)
def win_reset_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditionally-resetting running sum — cumulative spend since the
    user's LAST signup event: the reset-on-flag accumulator plain
    running sums can't express, composed as two stacked windows
    (a running count of reset markers defines segments; the running
    sum re-partitions on (user, segment)). Counters since last
    deploy/login/error all reduce to this. Exact integer cents; the
    segment trick adds no extra shuffle beyond re-sorting within the
    user partition."""
    e = table(spark, sf_dir, "events")
    b = e.select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.when(F.col("event_type") == "signup", 1).otherwise(0).alias("reset"),
    )
    w1 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = b.withColumn("segment", F.sum("reset").over(w1))
    w2 = (
        Window.partitionBy("user_id", "segment")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return seg.select(
        "user_id",
        "event_id",
        F.col("segment").cast("long").alias("segment"),
        F.round(
            F.sum("cents").over(w2).cast("double") / 100, 2
        ).alias("running_since_signup"),
    )


@query(
    "win_time_since_last_error",
    """
    WITH b AS (
      SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    ), w AS (
      SELECT user_id, event_id, event_type, es,
             last_value(CASE WHEN event_type = 'error' THEN es END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY es, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_err
      FROM b
    )
    SELECT user_id, event_id,
           CAST(es - last_err AS BIGINT) AS secs_since_error
    FROM w WHERE last_err IS NOT NULL
    """,
)
def win_time_since_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time since the user's most recent PRIOR error — the
    ignore-nulls last_value pattern (`win_fill_forward`'s mechanism
    pointed at event PROVENANCE): every event is annotated with how
    long its user had been error-free, the covariate incident-impact
    and rage-click analyses key on. The marker column is NULL except
    on error rows; IGNORE NULLS + a 1-PRECEDING frame carries the
    latest error timestamp forward without self-inclusion (an error
    row measures from the PREVIOUS error). One user shuffle; exact
    integer epoch seconds (oracle floors DuckDB's fractional epoch to
    match unix_timestamp)."""
    e = table(spark, sf_dir, "events")
    b = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp("ts").alias("es"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = b.withColumn(
        "last_err",
        F.last(
            F.when(F.col("event_type") == "error", F.col("es")),
            ignorenulls=True,
        ).over(w),
    )
    return marked.filter(F.col("last_err").isNotNull()).select(
        "user_id",
        "event_id",
        (F.col("es") - F.col("last_err")).cast("long").alias(
            "secs_since_error"
        ),
    )


_RSI_N = 14  #: lookback periods (the standard RSI-14)


@query(
    "win_rsi",
    f"""
    WITH px AS (
      SELECT l_suppkey, l_orderkey, l_linenumber,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             CAST(l_extendedprice AS DECIMAL(18,2))
               - lag(CAST(l_extendedprice AS DECIMAL(18,2))) OVER w AS d,
             row_number() OVER w AS rn
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber,
                            l_extendedprice)
    ), g AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, rn,
             sum(CASE WHEN d > 0 THEN d ELSE CAST(0 AS DECIMAL(18,2)) END)
               OVER f AS gain,
             sum(CASE WHEN d < 0 THEN -d ELSE CAST(0 AS DECIMAL(18,2)) END)
               OVER f AS loss
      FROM px
      WINDOW f AS (PARTITION BY l_suppkey
                   ORDER BY rn
                   ROWS BETWEEN {_RSI_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(100.0 * CAST(gain AS DOUBLE)
                 / CAST(gain + loss AS DOUBLE), 6) AS rsi
    FROM g
    WHERE rn > {_RSI_N} AND gain + loss <> 0
    """,
)
def win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI-14 (Cutler's simple-average variant) per supplier over their
    shipped-line price series — the momentum oscillator beside `win_ohlc` /
    `win_rolling_vwap` / `win_drawdown` in the finance-window family.
    Delta = price − lag(price); RSI = 100·Σgain / (Σgain + Σloss) over
    the trailing 14 deltas, emitted only once the frame is full
    (rn > 14) and defined (some movement in the window).

    Exactness: prices and deltas are DECIMAL(18,2), so both windowed
    sums are exact integers-in-cents regardless of per-engine summation
    order; the one float step (the final ratio) is the identical
    expression over identical decimals on both sides.

    Scale shape: one shuffle on l_suppkey feeds BOTH windows (same
    partitioning, same sort — Catalyst reuses the exchange and the
    sort), and the frame is ROWS-bounded so state per row is O(14).
    No global sort anywhere: the series is per-key, exactly how a
    1000-executor cluster wants tick data partitioned."""
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    px = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        (p - F.lag(p).over(w)).alias("d"),
        F.row_number().over(w).alias("rn"),
    )
    zero = F.lit(0).cast("decimal(18,2)")
    f = (
        Window.partitionBy("l_suppkey")
        .orderBy("rn")
        .rowsBetween(-(_RSI_N - 1), 0)
    )
    g = px.select(
        "l_suppkey", "l_orderkey", "l_linenumber", "rn",
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(zero))
        .over(f).alias("gain"),
        F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(zero))
        .over(f).alias("loss"),
    )
    return g.filter(
        (F.col("rn") > _RSI_N) & (F.col("gain") + F.col("loss") != 0)
    ).select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.round(
            F.lit(100.0) * F.col("gain").cast("double")
            / (F.col("gain") + F.col("loss")).cast("double"),
            6,
        ).alias("rsi"),
    )


_BOLL_N = 20  #: Bollinger window length


@query(
    "win_bollinger",
    f"""
    WITH px AS (
      SELECT l_suppkey, l_orderkey, l_linenumber,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             row_number() OVER (PARTITION BY l_suppkey
                                ORDER BY l_shipdate, l_orderkey,
                                         l_linenumber, l_extendedprice) AS rn
      FROM lineitem
    ), s AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, p, rn,
             sum(p) OVER f AS sp,
             sum(CAST(p * p AS DECIMAL(38,4))) OVER f AS spp
      FROM px
      WINDOW f AS (PARTITION BY l_suppkey ORDER BY rn
                   ROWS BETWEEN {_BOLL_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(CAST(sp AS DOUBLE) / {_BOLL_N}, 6) AS mid,
           round(CAST(sp AS DOUBLE) / {_BOLL_N}
                 + 2 * sqrt((CAST(spp AS DOUBLE)
                             - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)
                               / {_BOLL_N}) / {_BOLL_N - 1}), 6) AS upper,
           round(CAST(sp AS DOUBLE) / {_BOLL_N}
                 - 2 * sqrt((CAST(spp AS DOUBLE)
                             - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)
                               / {_BOLL_N}) / {_BOLL_N - 1}), 6) AS lower
    FROM s WHERE rn >= {_BOLL_N}
    """,
)
def win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (20-row mean ± 2 sample-σ) per supplier
    shipped-line price series — the volatility envelope beside `win_rsi` in the finance
    family. Emitted only on full frames (rn ≥ 20).

    Exactness: the two windowed moments are DECIMAL sums (exact in any
    summation order); mean/σ/bands are ONE identical double expression
    over those decimals on both engines, so IEEE evaluation matches
    bit-for-bit and the 6dp round is cosmetic, not a tolerance.

    Scale shape: identical to win_rsi — one shuffle on l_suppkey, both
    moments from the same ROWS-bounded frame in one window pass, O(1)
    state per row. The textbook two-pass σ (mean first, then squared
    deviations) would double the window work; the sufficient-statistic
    form [Σp, Σp²] needs one."""
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    px = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("p"),
        F.row_number().over(w).alias("rn"),
    )
    f = (
        Window.partitionBy("l_suppkey")
        .orderBy("rn")
        .rowsBetween(-(_BOLL_N - 1), 0)
    )
    s = px.select(
        "l_suppkey", "l_orderkey", "l_linenumber", "rn",
        F.sum("p").over(f).alias("sp"),
        F.sum((F.col("p") * F.col("p")).cast("decimal(38,4)"))
        .over(f).alias("spp"),
    )
    mean = F.col("sp").cast("double") / _BOLL_N
    sd = F.sqrt(
        (
            F.col("spp").cast("double")
            - F.col("sp").cast("double") * F.col("sp").cast("double") / _BOLL_N
        )
        / (_BOLL_N - 1)
    )
    return s.filter(F.col("rn") >= _BOLL_N).select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.round(mean, 6).alias("mid"),
        F.round(mean + 2 * sd, 6).alias("upper"),
        F.round(mean - 2 * sd, 6).alias("lower"),
    )


_DONCH_N = 20  #: channel lookback


@query(
    "win_donchian",
    f"""
    WITH px AS (
      SELECT l_suppkey, l_orderkey, l_linenumber,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             row_number() OVER w AS rn,
             max(CAST(l_extendedprice AS DECIMAL(18,2))) OVER ch AS ch_hi,
             min(CAST(l_extendedprice AS DECIMAL(18,2))) OVER ch AS ch_lo
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber,
                            l_extendedprice),
             ch AS (PARTITION BY l_suppkey
                    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
                    ROWS BETWEEN {_DONCH_N} PRECEDING AND 1 PRECEDING)
    )
    SELECT l_suppkey,
           CAST(count(*) FILTER (WHERE p > ch_hi) AS BIGINT) AS n_break_up,
           CAST(count(*) FILTER (WHERE p < ch_lo) AS BIGINT) AS n_break_dn,
           CAST(count(*) AS BIGINT) AS n_eval
    FROM px WHERE rn > {_DONCH_N}
    GROUP BY l_suppkey
    """,
)
def win_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian-channel breakout counts per supplier: a price strictly
    above the previous {_DONCH_N} shipments' high (or below their low)
    is a breakout — the turtle-trading channel, and in ops data the
    "new all-recent-time high" alert primitive. The channel frame ends
    at 1 PRECEDING so the current row never defines its own channel.

    Exactness: channel extrema are decimal comparisons of stored 2dp
    values — no arithmetic at all. Same one-shuffle-per-key,
    ROWS-bounded-frame shape as `win_rsi`/`win_bollinger`; the three
    windows share one exchange + sort."""
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    ch = w.rowsBetween(-_DONCH_N, -1)
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    px = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        p.alias("p"),
        F.row_number().over(w).alias("rn"),
        F.max(p).over(ch).alias("ch_hi"),
        F.min(p).over(ch).alias("ch_lo"),
    )
    return (
        px.filter(F.col("rn") > _DONCH_N)
        .groupBy("l_suppkey")
        .agg(
            F.count_if(F.col("p") > F.col("ch_hi")).alias("n_break_up"),
            F.count_if(F.col("p") < F.col("ch_lo")).alias("n_break_dn"),
            F.count(F.lit(1)).alias("n_eval"),
        )
    )


@query(
    "win_ulcer_index",
    """
    WITH px AS (
      SELECT l_suppkey,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             max(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS peak
      FROM lineitem
    ), dd AS (
      SELECT l_suppkey,
             CAST(round(
               pow(100.0 * (CAST(p AS DOUBLE) / CAST(peak AS DOUBLE) - 1),
                   2), 8) AS DECIMAL(24,8)) AS dd2,
             round(100.0 * (CAST(p AS DOUBLE) / CAST(peak AS DOUBLE) - 1),
                   6) AS ddp
      FROM px
    )
    SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
           round(sqrt(CAST(sum(dd2) AS DOUBLE) / count(*)), 6)
             AS ulcer_index,
           min(ddp) AS max_drawdown_pct
    FROM dd GROUP BY l_suppkey
    """,
)
def win_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index per supplier price series — root-mean-square
    percentage drawdown from the running peak. Unlike `win_drawdown`'s
    maximum (one bad day), the ulcer index integrates DEPTH × DURATION
    of being underwater — the risk number retail volatility measures
    miss.

    Exactness: the running peak is a decimal windowed max (no
    arithmetic); each squared drawdown is computed in one identical
    float expression then quantized to DECIMAL(24,8), so the RMS
    aggregation is order-independent; the final sqrt is shared. One
    shuffle on the supplier key, running-max frame is O(1) state."""
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"
    ).rowsBetween(Window.unboundedPreceding, 0)
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    px = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", p.alias("p"), F.max(p).over(w).alias("peak")
    )
    ddp = 100.0 * (
        F.col("p").cast("double") / F.col("peak").cast("double") - 1
    )
    dd = px.select(
        "l_suppkey",
        F.round(F.pow(ddp, 2), 8).cast("decimal(24,8)").alias("dd2"),
        F.round(ddp, 6).alias("ddp"),
    )
    return dd.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sqrt(F.sum("dd2").cast("double") / F.count(F.lit(1))), 6
        ).alias("ulcer_index"),
        F.min("ddp").alias("max_drawdown_pct"),
    )


@query(
    "win_twap",
    """
    WITH px AS (
      SELECT l_suppkey,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             epoch_us(l_shipdate) // 1000000 AS t,
             lead(epoch_us(l_shipdate) // 1000000) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber,
                            l_extendedprice) AS t_next
      FROM lineitem
    ), seg AS (
      SELECT l_suppkey, p, CAST(t_next - t AS BIGINT) AS dt
      FROM px WHERE t_next IS NOT NULL
    )
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(dt) AS BIGINT) AS span_sec,
           round(CAST(sum(CAST(p AS DECIMAL(28,2)) * dt) AS DOUBLE)
                 / CAST(sum(dt) AS DOUBLE), 6) AS twap
    FROM seg WHERE dt > 0 GROUP BY l_suppkey
    """,
)
def win_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per supplier — each observation
    holds until the next one, so its weight is the gap to the NEXT
    event (`win_rolling_vwap` weights by volume; TWAP weights by
    holding time — the benchmark execution algos settle against). The
    final observation has no holding period and drops; zero-length
    gaps (same-timestamp fills) carry zero weight and drop with it.

    Exactness: gaps are integer epoch-seconds; price × seconds
    accumulates as exact DECIMAL products; the single ratio is shared.
    One shuffle on the supplier key (the lead window), then a partial
    aggregate."""
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    t = (F.unix_micros(F.col("l_shipdate")) / F.lit(1000000)).cast("long")
    px = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("p"),
        (F.lead(t).over(w) - t).alias("dt"),
    )
    seg = px.filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    return seg.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("dt").cast("long").alias("span_sec"),
        F.round(
            F.sum(F.col("p").cast("decimal(28,2)") * F.col("dt"))
            .cast("double") / F.sum("dt").cast("double"),
            6,
        ).alias("twap"),
    )


@query(
    "win_parkinson_vol",
    """
    WITH daily AS (
      SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
             max(CAST(l_extendedprice AS DECIMAL(18,2))) AS hi,
             min(CAST(l_extendedprice AS DECIMAL(18,2))) AS lo
      FROM lineitem GROUP BY 1, 2
    ), terms AS (
      SELECT l_suppkey,
             CAST(round(pow(ln(CAST(hi AS DOUBLE) / CAST(lo AS DOUBLE)),
                            2), 10) AS DECIMAL(20,10)) AS lnhl2
      FROM daily WHERE hi > lo
    )
    SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_days,
           round(sqrt(CAST(sum(lnhl2) AS DOUBLE)
                      / (4 * ln(2) * count(*))), 6) AS parkinson_vol
    FROM terms GROUP BY l_suppkey
    """,
)
def win_parkinson_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parkinson range volatility per supplier — √(Σ ln²(H/L) /
    (4 ln 2 · n)) over daily high/low price ranges. Close-to-close
    volatility throws away the intraday range; Parkinson's estimator is
    ~5× more efficient from the same days of data, which is why OHLC
    stores exist (`win_ohlc` builds the bars; this consumes them).
    Days with H = L carry no range information and drop.

    Exactness: daily extrema are decimal; each ln² term is one shared
    float expression quantized to DECIMAL(20,10) before the per-key sum
    (order-independent); one daily aggregate + one supplier aggregate,
    both partial."""
    li = table(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(F.max(p).alias("hi"), F.min(p).alias("lo"))
    lnhl2 = F.round(
        F.pow(
            F.log(F.col("hi").cast("double") / F.col("lo").cast("double")),
            2,
        ),
        10,
    ).cast("decimal(20,10)")
    terms = daily.filter(F.col("hi") > F.col("lo")).select(
        "l_suppkey", lnhl2.alias("lnhl2")
    )
    return terms.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.sqrt(
                F.sum("lnhl2").cast("double")
                / (4 * F.log(F.lit(2.0)) * F.count(F.lit(1)))
            ),
            6,
        ).alias("parkinson_vol"),
    )


@query(
    "win_underwater_duration",
    """
    WITH px AS (
      SELECT l_suppkey,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             row_number() OVER w AS rn,
             max(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
               w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber,
                            l_extendedprice)
    ), flagged AS (
      SELECT l_suppkey, rn, p < peak AS under,
             CASE WHEN p < peak THEN 0 ELSE 1 END AS reset
      FROM px
    ), islands AS (
      SELECT l_suppkey, under,
             sum(reset) OVER (PARTITION BY l_suppkey ORDER BY rn
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS grp
      FROM flagged
    )
    SELECT l_suppkey,
           CAST(max(len) AS BIGINT) AS max_underwater_run,
           CAST(count(*) AS BIGINT) AS n_spells
    FROM (
      SELECT l_suppkey, grp, count(*) AS len
      FROM islands WHERE under GROUP BY l_suppkey, grp
    ) GROUP BY l_suppkey
    """,
)
def win_underwater_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest underwater spell per supplier — the maximum run of
    consecutive observations strictly below the running peak, plus the
    spell count. `win_drawdown` measures DEPTH; recovery TIME is the
    number risk committees actually ask for ("how long until a new
    high?"), and the gaps-and-islands rewrite makes it one more window
    over the same (key, time) sort: a running count of at-peak resets
    numbers the spells, a per-spell count takes the max.

    All three windows share one shuffle+sort; comparisons are decimal,
    counts integer — nothing to quantize."""
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    px = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        p.alias("p"),
        F.row_number().over(w).alias("rn"),
        F.max(p).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("peak"),
    )
    flagged = px.select(
        "l_suppkey", "rn",
        (F.col("p") < F.col("peak")).alias("under"),
        F.when(F.col("p") < F.col("peak"), 0).otherwise(1).alias("reset"),
    )
    islands = flagged.select(
        "l_suppkey", "under",
        F.sum("reset").over(
            Window.partitionBy("l_suppkey").orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("grp"),
    )
    spells = (
        islands.filter("under")
        .groupBy("l_suppkey", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return spells.groupBy("l_suppkey").agg(
        F.max("len").cast("long").alias("max_underwater_run"),
        F.count(F.lit(1)).alias("n_spells"),
    )


_HOLT_ALPHA = 0.3


_HOLT_BETA = 0.1


@query("win_holt_linear")  # rows-only: coupled recurrence has no SQL form
def win_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (level + trend) exponential smoothing per supplier
    price series, emitting the final state and the one-step-ahead
    forecast — the workhorse short-horizon forecaster between naive
    (`stat_backtest_snaive`) and full seasonal decomposition. The
    coupled recurrence l_t = αx_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} is genuinely sequential per
    key (unlike single-EWMA, which `win_ewma` expresses in closed
    form), so it runs as an Arrow-batched ``applyInPandas`` walk —
    per-key state is two floats, the partition is the series key, the
    cluster-scale fan-out is by supplier. Rows-only; the unit test
    replays the recurrence sequentially and pins level/trend/forecast
    to the emitted 6dp rounding."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
        "l_extendedprice",
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        # l_extendedprice as final tiebreak: the synthetic data carries
        # one duplicated (suppkey, shipdate, orderkey, linenumber) tuple
        # with distinct prices, so the shorter key is not total.
        pdf = pdf.sort_values(
            ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"]
        )
        xs = pdf["l_extendedprice"].tolist()
        if len(xs) < 2:
            return pd.DataFrame(
                columns=["l_suppkey", "n_obs", "level", "trend", "forecast"]
            )
        level, trend = xs[0], xs[1] - xs[0]
        for x in xs[1:]:
            prev = level
            level = _HOLT_ALPHA * x + (1 - _HOLT_ALPHA) * (level + trend)
            trend = _HOLT_BETA * (level - prev) + (1 - _HOLT_BETA) * trend
        return pd.DataFrame([{
            "l_suppkey": int(pdf["l_suppkey"].iloc[0]),
            "n_obs": len(xs),
            "level": round(level, 6),
            "trend": round(trend, 6),
            "forecast": round(level + trend, 6),
        }])

    out = li.groupBy("l_suppkey").applyInPandas(
        holt,
        schema="l_suppkey long, n_obs long, level double, "
               "trend double, forecast double",
    )
    return out.orderBy("l_suppkey")
