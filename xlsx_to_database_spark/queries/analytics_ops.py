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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators import dedup as D
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
