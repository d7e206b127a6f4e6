"""Behavioral / product-analytics operators over the events stream plus
composition ops that finish the dedup story: funnels, retention cohorts,
path mining, deterministic mode, heavy hitters, period-over-period
deltas, the bucketed pure-range join, and cluster-survivor selection.

Scale notes:
- ``funnel_steps`` is one shuffle on user_id: a chain of per-user
  window minima carries each stage's timestamp forward, then one
  per-user aggregate and one global count, with no join and one scan.
- ``retention_cohorts`` ships (user, week) pairs once: cohort week is a
  per-user aggregate joined back on the user key; offsets are integer
  epoch math, not calendar UDFs.
- ``path_trigrams`` is the lag-window n-gram trick: per-user ordered
  lag(2)/lag(1)/current inside ONE shuffle+sort on user_id, then a hash
  aggregate — no per-user collect, no array building.
- ``join_range_bucketed`` is the scale path for range joins WITHOUT an
  equi key (which otherwise plan as nested-loop): quantize the range
  attribute into radius-width buckets, explode the probe side into its
  3 adjacent buckets, LEFT equi-join on bucket id with the exact
  residual in the join condition. Result-transparent: the oracle is the
  plain theta-join SQL.
- ``dedup_keep_best`` composes connected components with a per-cluster
  row_number — the final keep/drop verdict of a dedup pipeline.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators import dedup as D
from xlsx_to_database_spark.queries import fquant
from xlsx_to_database_spark.registry import query


@query(
    "funnel_steps",
    """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts >= s1.t1
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        GROUP BY e.user_id
    )
    SELECT '1_signup' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s1
    UNION ALL
    SELECT '2_click', CAST(count(*) AS BIGINT) FROM s2
    UNION ALL
    SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM s3
    """,
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → click → purchase: a user
    advances only with a later-or-equal event at each stage (min
    qualifying timestamp carried forward). One pass partitioned by
    user_id: window minima give each event row its user's t1 (first
    signup) and t2 (first click at or after t1); a per-user aggregate
    on the same partitioning takes t3 (first purchase at or after t2);
    one global count per stage.

    Stage 1 counts users with any signup event, as the oracle's
    ``GROUP BY`` does even when every signup ``ts`` is NULL; stages 2
    and 3 join on user_id there, so a NULL user_id never advances."""
    w = Window.partitionBy("user_id")
    et, ts = F.col("event_type"), F.col("ts")
    per_user = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts")
        .filter(et.isin("signup", "click", "purchase"))
        .withColumn("t1", F.min(F.when(et == "signup", ts)).over(w))
        .withColumn("t2", F.min(F.when((et == "click") & (ts >= F.col("t1")), ts)).over(w))
        .groupBy("user_id")
        .agg(
            F.max(et == "signup").alias("signed_up"),
            F.max("t2").alias("t2"),
            F.min(F.when((et == "purchase") & (ts >= F.col("t2")), ts)).alias("t3"),
        )
    )
    known = F.col("user_id").isNotNull()
    counts = per_user.agg(
        F.count(F.when(F.col("signed_up"), 1)).alias("n1"),
        F.count(F.when(known, F.col("t2"))).alias("n2"),
        F.count(F.when(known, F.col("t3"))).alias("n3"),
    )
    return counts.select(
        F.expr("stack(3, '1_signup', n1, '2_click', n2, '3_purchase', n3) AS (stage, n_users)")
    )


@query(
    "retention_cohorts",
    """
    WITH firsts AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS active_week
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week,
           CAST((epoch(active_week) - epoch(cohort_week)) / 604800 AS BIGINT)
             AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: users grouped by first-seen week, counted in
    every subsequent week they were active. One per-user aggregate
    (cohort), one distinct over (user, week) pairs, one count — all on
    the user key; week offsets are integer epoch arithmetic (UTC), no
    calendar functions in the hot path."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts")).alias("active_week"),
        )
        .distinct()
    )
    week_offset = (
        (F.unix_timestamp("active_week") - F.unix_timestamp("cohort_week")) / 604800
    ).cast("long")
    return activity.groupBy("cohort_week", week_offset.alias("week_offset")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


@query(
    "path_trigrams",
    """
    SELECT trigram, CAST(count(*) AS BIGINT) AS cnt
    FROM (
        SELECT lag(event_type, 2) OVER w || '>' ||
               lag(event_type, 1) OVER w || '>' || event_type AS trigram
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE trigram IS NOT NULL
    GROUP BY trigram
    ORDER BY cnt DESC, trigram
    LIMIT 25
    """,
)
def path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 user-journey trigrams (event-type transitions): two lags
    inside one shuffle+sort on user_id build the n-gram per row — no
    per-user sequence collection, no arrays — then a corpus-wide hash
    aggregate and a TakeOrdered top-k (token-ascending tiebreak keeps
    the cut deterministic)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = F.concat_ws(
        ">", F.lag("event_type", 2).over(w), F.lag("event_type", 1).over(w),
        F.col("event_type"),
    )
    # concat_ws skips nulls rather than yielding null — filter on the
    # lag directly so partial (1- and 2-event) prefixes drop out.
    return (
        ev.select(tri.alias("trigram"), F.lag("event_type", 2).over(w).alias("l2"))
        .filter(F.col("l2").isNotNull())
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("trigram").asc())
        .limit(25)
    )


@query(
    "agg_mode",
    """
    SELECT l_returnflag, mode_qty, cnt FROM (
        SELECT l_returnflag, l_quantity AS mode_qty,
               CAST(count(*) AS BIGINT) AS cnt,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY count(*) DESC, l_quantity ASC) AS rn
        FROM lineitem
        GROUP BY l_returnflag, l_quantity
    ) WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent quantity per return
    flag, smallest-value tiebreak): count aggregate → row_number over
    the tiny (group × distinct-value) result. Built-in `mode()` is
    nondeterministic on ties in both engines — the explicit tiebreak is
    what makes the op reproducible; the window runs over group-count
    rows, not data rows."""
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("cnt").desc(), F.col("l_quantity").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"), "cnt")
    )


@query(
    "text_topk_terms",
    """
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 20
    """,
)
def text_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-20 tokens by frequency. Explode → hash
    aggregate (map-side partial combine moves one row per distinct token
    per task) → TakeOrderedAndProject; the token-ascending tiebreak
    makes the top-k cut engine-stable. The approximate sibling at
    extreme cardinality is count-min / space-saving sketches; exact
    stays correct here because the aggregate state is vocabulary-sized,
    not corpus-sized."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(20)
    )


@query(
    "win_pct_change",
    """
    WITH monthly AS (
        SELECT c_mktsegment, CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, month
    )
    SELECT c_mktsegment, month, revenue,
           round((revenue - lag(revenue) OVER w)
                 / lag(revenue) OVER w, 6) AS pct_change
    FROM monthly
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY month)
    """,
)
def win_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period revenue delta per segment: monthly aggregate
    (decimal sums — double order-of-addition diverges at rounding
    boundaries), then lag-based percent change over the tiny
    (segment × month) result. The window sorts aggregate rows, never
    fact rows; first month per segment yields null (no prior
    period)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "c_mktsegment",
        "month",
        "revenue",
        F.round((F.col("revenue") - prev) / prev, 6).alias("pct_change"),
    )


@query(
    "join_range_bucketed",
    """
    WITH purchases AS (
        SELECT event_id, value FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, CAST(count(e.event_id) AS BIGINT) AS n_similar
    FROM purchases p LEFT JOIN events e
      ON e.value >= p.value - 0.5 AND e.value <= p.value + 0.5
     AND e.event_id <> p.event_id
    GROUP BY p.event_id
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (NO equi key): events with a value within ±0.5 of
    each purchase. Declared as a theta join this plans nested-loop —
    quadratic at scale — so the implementation quantizes `value` into
    radius-width buckets, explodes the probe side into its 3 adjacent
    buckets, and LEFT equi-joins on bucket id with the exact residual
    in the join condition: every true match lands in an adjacent bucket
    (|va−vb| ≤ r ⇒ bucket ids differ by ≤ 1), so the rewrite is
    lossless while the join becomes a hash/sort-merge on a dense integer
    key. The three buckets are distinct, so no match is counted twice,
    and a purchase with no match (a NULL value included) keeps its 0
    row through the outer join. The oracle is the plain theta-join SQL —
    result-transparency is the point."""
    r = 0.5
    bucket = F.floor(F.col("value") / r).cast("long")
    ev = table(spark, sf_dir, "events").select(
        F.col("event_id").alias("e_id"),
        F.col("value").alias("e_val"),
        bucket.alias("e_bucket"),
    )
    p = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("value").alias("p_val"),
            F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("p_bucket"),
        )
    )
    on = (
        (F.col("p_bucket") == F.col("e_bucket"))
        & (F.col("e_val") >= F.col("p_val") - r)
        & (F.col("e_val") <= F.col("p_val") + r)
        & (F.col("e_id") != F.col("p_id"))
    )
    return (
        p.join(ev, on, "left")
        .groupBy(F.col("p_id").alias("event_id"))
        .agg(F.count("e_id").cast("long").alias("n_similar"))
    )


@query(
    "dedup_keep_best",
    """
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
    ), pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.t, b.t))::DOUBLE
                     / len(list_distinct(list_concat(a.t, b.t))), 6) AS jaccard
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.9
    ), edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node
    ), clusters AS (
      SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    )
    SELECT cluster_id, doc_id, n_chars, cluster_size FROM (
        SELECT c.cluster_id, d.doc_id, d.n_chars,
               CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT)
                 AS cluster_size,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
        FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
    ) WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final verdict: cluster near-dups (connected
    components over exact Jaccard≥0.9 pairs), then keep ONE survivor per
    cluster — the longest document, doc_id tiebreak. Composition of
    `dedup_cluster` + a per-cluster row_number; the window partitions on
    cluster_id, which is exactly how the data is already keyed after the
    components join."""
    docs = table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold=0.9).select("doc_a", "doc_b")
    clusters = D.connected_components(
        docs.select("doc_id"), pairs, node_col="doc_id",
        src_col="doc_a", dst_col="doc_b",
    )
    joined = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id")
    wr = w.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        joined.select(
            "cluster_id",
            "doc_id",
            "n_chars",
            F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "agg_time_bucket",
    """
    SELECT CAST(time_bucket(INTERVAL 15 MINUTES, ts) AS TIMESTAMP) AS bucket,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(value), 6) AS avg_value
    FROM events
    GROUP BY bucket, event_type
    """,
)
def agg_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeseries downsampling: 15-minute tumbling buckets × event type
    via `F.window` (epoch-aligned in both engines — Spark's window() and
    DuckDB's time_bucket both anchor at 1970-01-01 for minute
    intervals). The batch twin of `stream_tumbling`; one hash aggregate
    whose key is the derived bucket start, partial-aggregated map-side
    like any groupBy."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "15 minutes").start.alias("bucket"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


@query(
    "event_attribution",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type IN ('click', 'view')
                  THEN event_type END AS touch
      FROM events
    ), carried AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(touch IGNORE NULLS) OVER w AS last_touch,
             first_value(touch IGNORE NULLS) OVER w AS first_touch
      FROM ordered
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT model, touch_type, CAST(count(*) AS BIGINT) AS conversions,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS revenue
    FROM (
      SELECT 'last' AS model, last_touch AS touch_type, value
      FROM carried WHERE event_type = 'purchase'
      UNION ALL
      SELECT 'first', first_touch, value
      FROM carried WHERE event_type = 'purchase'
    ) t GROUP BY model, touch_type
    """,
)
def event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch marketing attribution: every purchase
    credits the first (and, separately, the last) preceding click/view
    of the same user — the two bookend models every attribution debate
    starts from. One per-user window pass carries both candidate
    touches via first/last(ignoreNulls) over a running frame (no
    self-join, no per-conversion re-scan); purchases with no preceding
    touch fall into the NULL-touch bucket, stated rather than dropped.
    Total order (ts, event_id) makes tie-carrying engine-identical;
    revenue quantizes to DECIMAL before the cross-user sum. One shuffle
    on user_id, per-user partitions bounded."""
    ev = table(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
    ).filter(F.col("event_type") == "purchase")
    both = carried.select(
        F.lit("last").alias("model"),
        F.col("last_touch").alias("touch_type"), "v"
    ).unionByName(
        carried.select(
            F.lit("first").alias("model"),
            F.col("first_touch").alias("touch_type"), "v"
        )
    )
    return both.groupBy("model", "touch_type").agg(
        F.count(F.lit(1)).alias("conversions"),
        F.round(F.sum("v").cast("double"), 2).alias("revenue"),
    )


@query(
    "funnel_time_window",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts >= s1.t1
        AND e.ts <= s1.t1 + INTERVAL '7 days'
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e
      JOIN s2 ON e.user_id = s2.user_id
      JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        AND e.ts <= s1.t1 + INTERVAL '7 days'
      GROUP BY e.user_id
    )
    SELECT 1 AS step, CAST(count(*) AS BIGINT) AS users FROM s1
    UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM s2
    UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM s3
    """,
)
def funnel_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel with a bounded window — windowFunnel
    semantics: signup → click → purchase must ALL land within 7 days of
    the user's first signup (the unconstrained `funnel_steps` answers
    'ever converted'; product analytics always asks 'converted within
    N days'). Same scale skeleton: staged per-user min aggregates, all
    shuffles keyed on user_id, each stage's scan pre-filtered to one
    event type — the window constraint is a per-row predicate against
    the anchoring t1, adding zero extra shuffles."""
    ev = table(spark, sf_dir, "events")
    week = F.expr("INTERVAL 7 DAYS")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") >= F.col("t1"))
                & (F.col("ts") <= F.col("t1") + week))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .join(s1, "user_id")
        .filter((F.col("ts") >= F.col("t2"))
                & (F.col("ts") <= F.col("t1") + week))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.lit(1).alias("step"), F.count(F.lit(1)).alias("users"))
        .unionAll(
            s2.agg(F.lit(2).alias("step"), F.count(F.lit(1)).alias("users"))
        )
        .unionAll(
            s3.agg(F.lit(3).alias("step"), F.count(F.lit(1)).alias("users"))
        )
    )


@query(
    "assoc_rules",
    """
    WITH item AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem
    ), n AS (
      SELECT count(DISTINCT o) AS n_orders FROM item
    ), cnt AS (
      SELECT i, count(*) AS c FROM item GROUP BY i
    ), pair AS (
      SELECT a.i AS u, b.i AS v, count(*) AS c_uv
      FROM item a JOIN item b ON a.o = b.o AND a.i < b.i
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), rules AS (
      SELECT u AS antecedent, v AS consequent, c_uv FROM pair
      UNION ALL
      SELECT v, u, c_uv FROM pair
    )
    SELECT antecedent, consequent, CAST(c_uv AS BIGINT) AS pair_orders,
           round(CAST(c_uv AS DOUBLE) / n.n_orders, 6) AS support,
           round(CAST(c_uv AS DOUBLE) / ca.c, 6) AS confidence,
           round(CAST(c_uv * n.n_orders AS DOUBLE) / (ca.c * cb.c), 6)
             AS lift
    FROM rules
    JOIN cnt ca ON ca.i = antecedent
    JOIN cnt cb ON cb.i = consequent
    CROSS JOIN n
    ORDER BY lift DESC, antecedent, consequent LIMIT 25
    """,
)
def assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (support / confidence / lift) over
    the order→part incidence — the 'customers who bought X also bought
    Y' primitive, and the frequent-itemset k=2 pass of Apriori/FP-growth.
    Candidate pairs come from a self-equi-join on the ORDER key (bounded
    fan-out: C(items_per_order, 2) per order, ~7 items in TPC-H — never
    parts²); item supports and the order total attach by equi-join /
    one-row broadcast. Lift is computed as (c_uv·N) / (c_a·c_b) with the
    integer products taken exactly in int64 and ONE double division, so
    both engines emit the identical double; ties at the LIMIT boundary
    break on (antecedent, consequent).

    Scale shape: shuffles on order key then pair key — both hash
    partitioned, both combiner-friendly; the ≥2-order support floor
    prunes the long pair tail before the rule join. The N scalar rides a
    broadcast one-row aggregate, never a driver collect."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    n = li.agg(F.countDistinct("o").alias("n_orders"))
    cnt = li.groupBy("i").agg(F.count(F.lit(1)).alias("c"))
    a = li.select(F.col("o"), F.col("i").alias("u"))
    b = li.select(F.col("o"), F.col("i").alias("v"))
    pair = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c_uv"))
        .filter(F.col("c_uv") >= 2)
    )
    rules = pair.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "c_uv"
    ).unionAll(
        pair.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"),
            "c_uv",
        )
    )
    ca = cnt.select(F.col("i").alias("antecedent"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("i").alias("consequent"), F.col("c").alias("cb"))
    return (
        rules.join(ca, "antecedent")
        .join(cb, "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("c_uv").cast("long").alias("pair_orders"),
            F.round(F.col("c_uv").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("c_uv").cast("double") / F.col("ca"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("c_uv") * F.col("n_orders")).cast("double")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "antecedent", "consequent")
        .limit(25)
    )


@query(
    "event_pattern_match",
    """
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq,
             count(*) AS n_events
      FROM events GROUP BY user_id
    ), hits AS (
      SELECT user_id, n_events, seq,
             strpos(seq, 'v') AS i1
      FROM seqs WHERE seq LIKE '%v%c%p%'
    ), step2 AS (
      SELECT user_id, n_events, seq, i1,
             i1 + strpos(substr(seq, i1 + 1), 'c') AS i2
      FROM hits
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(i2 + strpos(substr(seq, i2 + 1), 'p') AS INT) AS conv_pos
    FROM step2
    """,
)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event streams — the
    MATCH_RECOGNIZE / funnel-regex primitive: encode each user's ordered
    event history as a compact symbol string (one char per event), then
    pattern-match `view …then… click …then… purchase` as a subsequence
    and report WHERE the earliest conversion completes (`funnel_steps`
    counts stage reach; this finds the position of the completing event,
    the input to time-to-convert and path-length analytics).

    Deterministic: the symbol string is ordered by (ts, event_id) —
    event_id is unique, so both engines build byte-identical sequences;
    matching and position arithmetic are integer/string ops.

    Scale shape: ONE shuffle (groupBy user) builds the sequences via
    collect_list + array_sort — per-user payload is bounded by the
    user's own history, the same envelope any sessionization needs; the
    match + position scan is map-only codegen over strings that are ~1
    byte per event."""
    e = table(spark, sf_dir, "events")
    seqs = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda s: s.c,
            ),
            "",
        ).alias("seq"),
        F.count(F.lit(1)).alias("n_events"),
    )
    hits = seqs.filter(F.col("seq").like("%v%c%p%"))
    i1 = F.instr(F.col("seq"), "v")
    h2 = hits.select(
        "user_id",
        "n_events",
        "seq",
        i1.alias("i1"),
        (i1 + F.instr(F.substring(F.col("seq"), i1 + 1, 2147483647), "c")).alias(
            "i2"
        ),
    )
    return h2.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        (
            F.col("i2")
            + F.instr(F.substring(F.col("seq"), F.col("i2") + 1, 2147483647), "p")
        )
        .cast("int")
        .alias("conv_pos"),
    )


@query(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ), c AS (
      SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
    )
    SELECT prev, next, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY prev), 6) AS p
    FROM c
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams
    — P(next event type | current) with empirical row-normalized
    probabilities. The session-model primitive behind next-action
    prediction, anomaly scoring ("this transition never happens"), and
    clickstream simulation; `text_markov_bigrams` is the same math on
    token streams, this is the behavioral-events instance keyed and
    ordered the way event data actually arrives.

    Shape: one shuffle on user_id for the lag window, then a partial
    (map-side combining) aggregate down to the |types|² transition grid
    — metadata scale regardless of corpus size; the final normalizing
    window runs over that grid, not the data. Total order (ts,
    event_id) makes the lag — and thus the hash — deterministic under
    timestamp ties."""
    seq = table(spark, sf_dir, "events").select(
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
    return c.select(
        "prev", "next", "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy("prev")),
            6,
        ).alias("p"),
    )


@query(
    "event_time_heatmap",
    """
    SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hod,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
             AS n_errors
    FROM events GROUP BY 1, 2
    """,
)
def event_time_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity heatmap with an error overlay — the
    first dashboard every on-call rotation builds ("do errors spike at
    the Monday 09:00 deploy?"). Calendar bucketing is codegen date
    arithmetic; the grid is ≤ 7×24 cells, so the shuffle carries
    metadata regardless of event volume.

    Engine note: Spark's ``dayofweek`` and DuckDB's ``dayofweek``
    number differently (Spark 1=Sunday; DuckDB 0=Sunday) — the oracle
    uses DuckDB's and the Spark side converts explicitly, pinning ONE
    documented convention instead of hash-matching by accident."""
    ev = table(spark, sf_dir, "events")
    # Spark dayofweek: 1=Sunday..7=Saturday -> DuckDB convention 0=Sunday
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
    )


@query(
    "event_burstiness",
    """
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ), agg AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap_us) AS BIGINT) AS s1,
             CAST(sum(CAST(gap_us AS HUGEINT) * gap_us) AS DOUBLE) AS s2
      FROM gaps WHERE gap_us IS NOT NULL
      GROUP BY user_id HAVING count(*) >= 2
    )
    SELECT user_id, n_gaps,
           floor(CAST(s1 AS DOUBLE) / n_gaps / 1000000 * 1000000 + 0.5)
             / 1000000 AS mean_gap_sec,
           CASE WHEN s1 = 0 THEN NULL ELSE
             floor(sqrt(greatest(0.0,
                     (s2 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                      / n_gaps) / (n_gaps - 1)))
                   / (CAST(s1 AS DOUBLE) / n_gaps) * 1000000 + 0.5)
               / 1000000 END AS cv
    FROM agg
    """,
)
def event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per user: coefficient of variation of
    the gaps between consecutive events. A Poisson (memoryless) process
    has CV = 1; humans are bursty (CV > 1 — sessions of rapid activity
    separated by silence); a CV ≪ 1 stream is suspiciously metronomic —
    the bot-detection tell. Pairs with `text_burstiness`: the same
    over-dispersion diagnostic on the time axis.

    Gaps are exact integer microseconds from one lag window (shuffle on
    user_id); the second moment is accumulated in DOUBLE on BOTH
    engines deliberately — gap² exceeds int64 for day-scale gaps, and
    an identical float expression beats two different overflow
    behaviors. CV is the shared sample-std/mean expression.

    Quantization is floor(x·1e6 + 0.5)/1e6 — pure double arithmetic
    both engines evaluate bit-identically — NOT round(x, 6): Spark
    rounds the shortest decimal repr while DuckDB rounds the binary
    double, and a value landing on a .5 midpoint at the 6th decimal
    diverges by 1 ulp (caught by the round-6 sf0.1 sweep: user 1124's
    mean gap rounded to …043 in Spark, …042 in DuckDB)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    gaps = ev.select(
        "user_id", (t - F.lag(t).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_us").cast("long").alias("s1"),
        F.sum(F.col("gap_us").cast("double") * F.col("gap_us"))
        .alias("s2"),
    ).filter(F.col("n_gaps") >= 2)
    mean = F.col("s1").cast("double") / F.col("n_gaps")
    # greatest(0, var): double error on day-scale gap² can push the
    # variance an epsilon negative; s1 = 0 (all gaps zero) makes cv
    # 0/0 — emit NULL, identically in the oracle. Without the guards,
    # Spark's long-typed floor would turn NaN into 0 while DuckDB's
    # double floor keeps NaN (review catch).
    sd = F.sqrt(
        F.greatest(
            F.lit(0.0),
            (F.col("s2") - F.col("s1").cast("double")
             * F.col("s1").cast("double") / F.col("n_gaps"))
            / (F.col("n_gaps") - 1),
        )
    )

    return agg.select(
        "user_id", "n_gaps",
        fquant(mean / 1000000, 6).alias("mean_gap_sec"),
        F.when(F.col("s1") == 0, F.lit(None).cast("double"))
        .otherwise(fquant(sd / mean, 6)).alias("cv"),
    )


_THROTTLE_SEC = 600  #: alert cooldown (10 min)


@query("event_alert_throttle")  # rows-only: greedy walk has no SQL form
def event_alert_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert throttling with a cooldown anchored on the last EMITTED
    alert: emit an error event only if ≥ 10 min have passed since the
    previously emitted one for that user. This is NOT gaps-and-islands
    (the cooldown measures from the emitted anchor, not the previous
    event — a steady error drizzle at 1/min emits every 10 min here,
    but forms ONE unbroken session under gap logic and would emit
    once). The recurrence makes it genuinely sequential per key, so it
    runs as an Arrow-batched ``applyInPandas`` walk — per-user state is
    one timestamp, the partition is the user key, and the Python cost
    is O(errors per user), the intended escape hatch for logic SQL
    cannot express (SURVEY §2 custom-operator rule (b)).

    Rows-only by the same token; the unit test replays the greedy walk
    sequentially and pins exact emissions."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("user_id", "ts", "event_id")
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        out = []
        last = None
        for row in pdf.itertuples(index=False):
            if last is None or (row.ts - last).total_seconds() >= _THROTTLE_SEC:
                out.append(row)
                last = row.ts
        return pd.DataFrame(out, columns=pdf.columns)

    emitted = ev.groupBy("user_id").applyInPandas(
        walk, schema="user_id long, ts timestamp, event_id long"
    )
    return emitted.orderBy("user_id", "ts", "event_id")


@query(
    "event_dau_mau",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('month', ts) AS DATE) AS mon,
             CAST(ts AS DATE) AS d,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1, 2
    ), monthly AS (
      SELECT CAST(date_trunc('month', ts) AS DATE) AS mon,
             CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      FROM events GROUP BY 1
    )
    SELECT d.mon,
           CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(sum(d.dau) AS DOUBLE) / count(*), 4) AS avg_dau,
           max(m.mau) AS mau,
           round(CAST(sum(d.dau) AS DOUBLE) / count(*) / max(m.mau), 6)
             AS stickiness
    FROM daily d JOIN monthly m ON d.mon = m.mon
    GROUP BY d.mon
    """,
)
def event_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — mean daily active users over
    monthly active users, THE engagement ratio every growth dashboard
    leads with (1/30 ≈ "monthly visitors", 1.0 = "daily habit").

    Shape: two COUNT DISTINCT aggregates at different grains (both
    partial via the distinct-rewrite), joined on month — the monthly
    side is metadata-size. Exact integers everywhere; the two ratios
    are shared float expressions. At 100 TB the day grain dominates;
    `agg_hll_sketch` is the documented sketch path when exact distincts
    stop being worth their shuffle."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("mon"),
        F.col("ts").cast("date").alias("d"),
    ).agg(F.countDistinct("user_id").alias("dau"))
    monthly = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("mon")
    ).agg(F.countDistinct("user_id").alias("mau"))
    return (
        daily.join(monthly, "mon")
        .groupBy("mon")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.sum("dau").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_dau"),
            F.max("mau").alias("mau"),
            F.round(
                F.sum("dau").cast("double") / F.count(F.lit(1))
                / F.max("mau"),
                6,
            ).alias("stickiness"),
        )
    )


@query(
    "event_path_sankey",
    """
    WITH seq AS (
      SELECT user_id, event_type AS c,
             lag(event_type, 1) OVER w AS b,
             lag(event_type, 2) OVER w AS a
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT a, b, c, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE a IS NOT NULL
    GROUP BY a, b, c
    ORDER BY n DESC, a, b, c
    LIMIT 20
    """,
)
def event_path_sankey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 three-step behavioral paths (A→B→C with counts) — the
    data behind a Sankey/flow diagram and the order-2 refinement of
    `event_transition_matrix` (first-order chains miss patterns like
    view→click→purchase vs view→click→view). Two lags from ONE window
    pass (same partition+order ⇒ one shuffle+sort), a |types|³-bounded
    aggregate, TakeOrderedAndProject for the top slice. Total
    (ts, event_id) order keeps path counts deterministic under
    timestamp ties."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("c"),
        F.lag("event_type", 1).over(w).alias("b"),
        F.lag("event_type", 2).over(w).alias("a"),
    )
    return (
        seq.filter(F.col("a").isNotNull())
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "a", "b", "c")
        .limit(20)
    )


@query(
    "event_new_vs_returning",
    """
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('month', min(ts)) AS DATE)
               AS first_mon
      FROM events GROUP BY user_id
    ), monthly AS (
      SELECT CAST(date_trunc('month', e.ts) AS DATE) AS mon, e.user_id,
             f.first_mon
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
      GROUP BY 1, 2, 3
    )
    SELECT mon,
           CAST(count(*) FILTER (WHERE mon = first_mon) AS BIGINT)
             AS new_users,
           CAST(count(*) FILTER (WHERE mon > first_mon) AS BIGINT)
             AS returning_users,
           round(CAST(count(*) FILTER (WHERE mon > first_mon) AS DOUBLE)
                 / count(*), 6) AS returning_share
    FROM monthly GROUP BY mon
    """,
)
def event_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning user split per month — the growth-accounting
    identity behind every MAU chart (growth = new + resurrected −
    churned; this op is its first two terms): a user is NEW in their
    first-ever active month and RETURNING in any later active month.

    Shape: one per-user min(ts) aggregate (the only fact-scale
    shuffle), an equi-join back, then a (month, user) dedup and a
    month-grain conditional count — at 100 TB the first-seen table is
    the user dimension a warehouse materializes once and every cohort
    query reuses (`retention_cohorts` consumes the same artifact)."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).cast("date").alias("first_mon")
    )
    monthly = (
        ev.join(first_seen, "user_id")
        .select(
            F.date_trunc("month", "ts").cast("date").alias("mon"),
            "user_id", "first_mon",
        )
        .distinct()
    )
    return monthly.groupBy("mon").agg(
        F.count_if(F.col("mon") == F.col("first_mon")).alias("new_users"),
        F.count_if(F.col("mon") > F.col("first_mon"))
        .alias("returning_users"),
        F.round(
            F.count_if(F.col("mon") > F.col("first_mon")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("returning_share"),
    )
