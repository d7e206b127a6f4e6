"""Join operators (SURVEY.md §2.3) over the TPC-H-ish star schema.

Scale posture: equi joins are declared, not hand-scheduled — Catalyst
picks broadcast-hash vs sort-merge from size stats and AQE re-plans at
runtime. We only *force* broadcast where the dimension is bounded by
domain semantics (region=5, nation=25 rows at ANY scale factor — safe at
100 TB). The as-of join is the one operator Spark SQL lacks natively; it
is built as a union + ordered-window `last(ignoreNulls)` pass, which
shuffles each side ONCE on the join key (same cost as a sort-merge join)
instead of exploding a range cross-product.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table, tables
from xlsx_to_database_spark.operators.skew import salted_join
from xlsx_to_database_spark.queries.sources_sinks import _STAGE_ROOT, _tag
from xlsx_to_database_spark.registry import query


@query(
    "join_inner_equi",
    """
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice,
           o.o_orderdate, o.o_orderstatus
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi join; planner's choice (sort-merge at scale, AQE may
    demote to broadcast at tiny sf)."""
    li, o = tables(spark, sf_dir, "lineitem", "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .filter(o.o_orderstatus == "F")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "o_orderdate", "o_orderstatus")
    )


@query(
    "join_broadcast",
    """
    SELECT r.r_name, count(*) AS num_customers,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two forced broadcast joins: nation (25 rows) and region (5 rows) are
    domain-bounded, so broadcasting is safe at any scale — the fact side
    never shuffles for the join, only for the final 5-key aggregate."""
    c, n, r = tables(spark, sf_dir, "customer", "nation", "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("num_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "join_left",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 300000
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer with an extra join-side predicate (null-extends customers
    with no qualifying order — exercises the ON-vs-WHERE distinction)."""
    c, o = tables(spark, sf_dir, "customer", "orders")
    return c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_totalprice > 300000), "left"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@query(
    "join_right",
    """
    SELECT o.o_orderkey, o.o_orderdate, c.c_name
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = tables(spark, sf_dir, "orders", "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "o_orderkey", "o_orderdate", "c_name"
    )


@query(
    "join_full",
    """
    WITH big_cust AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000),
         big_ord  AS (SELECT o_custkey, count(*) AS n_orders FROM orders
                      WHERE o_totalprice > 250000 GROUP BY o_custkey)
    SELECT b.c_custkey, b.c_name, g.o_custkey, g.n_orders
    FROM big_cust b FULL OUTER JOIN big_ord g ON b.c_custkey = g.o_custkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer between two filtered sides so both null-extension
    directions actually occur."""
    c, o = tables(spark, sf_dir, "customer", "orders")
    big_cust = c.filter(F.col("c_acctbal") > 9000).select("c_custkey", "c_name")
    big_ord = (
        o.filter(F.col("o_totalprice") > 250000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return big_cust.join(big_ord, big_cust.c_custkey == big_ord.o_custkey, "full").select(
        "c_custkey", "c_name", "o_custkey", "n_orders"
    )


@query(
    "join_semi",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence filter — left-semi never duplicates or widens rows."""
    c, o = tables(spark, sf_dir, "customer", "orders")
    return c.join(
        o.filter(o.o_orderstatus == "P"), c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-existence filter: customers with no urgent order. (Every
    customer has *some* order in the testdata, so the filtered form keeps
    the result non-trivial.)"""
    c, o = tables(spark, sf_dir, "customer", "orders")
    return c.join(
        o.filter(o.o_orderpriority == "1-URGENT"), c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_cross",
    """
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of the two bounded dims (5×25). Cross joins are
    only ever sane on domain-bounded inputs; anything else is a bug at
    scale, so this operator is deliberately dimension-only."""
    r, n = tables(spark, sf_dir, "region", "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta",
    """
    SELECT a.s_suppkey AS low_supp, b.s_suppkey AS high_supp,
           a.s_nationkey AS nationkey,
           round(b.s_acctbal - a.s_acctbal, 2) AS bal_gap
    FROM supplier a JOIN supplier b
      ON a.s_nationkey = b.s_nationkey AND a.s_acctbal < b.s_acctbal
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi predicate riding on an equi key: the planner keeps the
    nationkey shuffle (sort-merge) and applies the < as a post-condition —
    no cartesian blow-up at scale."""
    s = table(spark, sf_dir, "supplier")
    a, b = s.alias("a"), s.alias("b")
    return a.join(
        b,
        (F.col("a.s_nationkey") == F.col("b.s_nationkey"))
        & (F.col("a.s_acctbal") < F.col("b.s_acctbal")),
    ).select(
        F.col("a.s_suppkey").alias("low_supp"),
        F.col("b.s_suppkey").alias("high_supp"),
        F.col("a.s_nationkey").alias("nationkey"),
        F.round(F.col("b.s_acctbal") - F.col("a.s_acctbal"), 2).alias("bal_gap"),
    )


@query(
    "join_asof",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id, c.click_id AS last_click_id, c.ts AS last_click_ts
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the user's latest click at-or-before it.

    Spark has no native ASOF JOIN, so this uses the scalable union-window
    pattern: tag both sides, union, window per user ordered by (ts, side)
    with clicks sorted before purchases at equal ts (matching ASOF's
    inclusive `<=`), and carry the last non-null click forward. One
    shuffle on user_id total — same cost as a single sort-merge join,
    no range cross-product. Clicks are pre-deduped per (user, ts) with
    max(event_id) so ties are deterministic in both engines.
    """
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("side")
    )
    p_side = purchases.withColumn("click_id", F.lit(None).cast("long"))
    c_side = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            "click_id",
        )
    )
    unioned = p_side.unionByName(c_side)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = unioned.select(
        "event_id",
        "user_id",
        "side",
        F.col("ts"),
        F.last("click_id", ignorenulls=True).over(w).alias("last_click_id"),
        F.last(F.when(F.col("click_id").isNotNull(), F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("last_click_ts"),
    )
    return enriched.filter(F.col("side") == 1).select(
        "event_id", "user_id", "last_click_id", "last_click_ts"
    )


@query(
    "join_interval",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id,
           count(c.ts) AS clicks_prev_24h
    FROM purchases p LEFT JOIN clicks c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 24 HOURS
     AND c.ts < p.ts
    GROUP BY p.event_id, p.user_id
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: clicks in the 24h window before each purchase.

    The equi user_id key keeps this a sort-merge join with a range
    residual — per-user data is bounded, so no blow-up at scale. (A
    pure range join with no equi key would instead want bucketed time
    binning; see streaming ops for the binned pattern.)
    """
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("c_ts") < F.col("p_ts")),
        "left",
    )
    return joined.groupBy("event_id", "p_user").agg(
        F.count("c_ts").alias("clicks_prev_24h")
    ).select(F.col("event_id"), F.col("p_user").alias("user_id"), "clicks_prev_24h")


@query(
    "join_self",
    """
    SELECT a.l_orderkey AS orderkey,
           a.l_linenumber AS line_a, b.l_linenumber AS line_b,
           round(a.l_extendedprice + b.l_extendedprice, 2) AS pair_price
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
    """,
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join: unordered pairs of lineitems within an order."""
    li = table(spark, sf_dir, "lineitem")
    a, b = li.alias("a"), li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
    ).select(
        F.col("a.l_orderkey").alias("orderkey"),
        F.col("a.l_linenumber").alias("line_a"),
        F.col("b.l_linenumber").alias("line_b"),
        F.round(F.col("a.l_extendedprice") + F.col("b.l_extendedprice"), 2).alias("pair_price"),
    )


@query(
    "join_skew_salted",
    """
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-dim join (operators/skew.py): the big side spreads
    each key over 8 salt buckets, the small side replicates 8×. The
    oracle is the PLAIN join SQL — proving salting changes only the
    data distribution, never the result."""
    li, o = tables(spark, sf_dir, "lineitem", "orders")
    joined = salted_join(
        li, o.select("o_orderkey", "o_totalprice"), "l_orderkey", "o_orderkey", n_salts=8
    )
    return joined.select("l_orderkey", "l_linenumber", "l_extendedprice", "o_totalprice")


@query(
    "join_null_safe",
    """
    SELECT c_custkey, s_suppkey, ck, sk
    FROM (SELECT c_custkey, nullif(c_nationkey, 3) AS ck FROM customer) c
    JOIN (SELECT s_suppkey, nullif(s_nationkey, 3) AS sk FROM supplier) s
      ON c.ck IS NOT DISTINCT FROM s.sk
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics ETL needs when
    joining on nullable business keys. Plans as an ordinary hash join on
    the null-safe key (NULL hashes to a regular bucket), so cost and
    shuffle shape equal the plain equi-join."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey"), F.lit(3)).alias("ck")
    )
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.nullif(F.col("s_nationkey"), F.lit(3)).alias("sk")
    )
    return c.join(s, c.ck.eqNullSafe(s.sk)).select("c_custkey", "s_suppkey", "ck", "sk")


def _stage_bucketed(spark: SparkSession, sf_dir: str, src: str, key: str) -> str:
    """Create (once per session+sf) a bucketed, bucket-sorted copy of a
    testdata table in the session warehouse; returns the table name."""
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    tname = f"{src}_bkt_{tag}"
    if not spark.catalog.tableExists(tname):
        (
            table(spark, sf_dir, src)
            .repartition(8, key)
            .write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .option("path", f"/tmp/spark_stage/bucketed/{tname}")
            .saveAsTable(tname)
        )
    return tname


@query(
    "join_bucketed",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice, o_totalprice
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join over bucketed storage: both tables are
    written `bucketBy(8, key).sortBy(key)`, so the sort-merge join reads
    bucket i of each side in the same task — ZERO exchange, zero sort at
    query time (plan-asserted in tests/test_plans.py). This is the 100 TB
    answer for a join repeated every run: pay the shuffle once at write
    time, never again. The `merge` hint pins SMJ so the co-location is
    actually exercised rather than a broadcast kicking in at test scale."""
    li = _stage_bucketed(spark, sf_dir, "lineitem", "l_orderkey")
    o = _stage_bucketed(spark, sf_dir, "orders", "o_orderkey")
    left = spark.table(li).hint("merge")
    right = spark.table(o)
    return left.join(right, left.l_orderkey == right.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "o_totalprice"
    )


@query(
    "join_asof_forward",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT user_id, ts, min(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id,
           t.purchase_id AS next_purchase_id, t.ts AS next_purchase_ts
    FROM clicks c LEFT JOIN LATERAL (
        SELECT p.purchase_id, p.ts FROM purchases p
        WHERE p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.ts, p.purchase_id LIMIT 1
    ) t ON true
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each click, the user's NEXT purchase
    at-or-after it — the mirror of `join_asof`, same union-window
    pattern but with a forward frame (currentRow → unboundedFollowing)
    and `first(ignoreNulls)`: one shuffle on user_id, no range
    cross-product. Purchases pre-deduped per (user, ts) with
    min(event_id) so same-timestamp ties resolve identically in both
    engines; at equal ts the purchase sorts after the click (side
    ordering) yet stays inside the inclusive forward frame."""
    ev = table(spark, sf_dir, "events")
    c_side = (
        ev.filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts", F.lit(0).alias("side"))
        .withColumn("purchase_id", F.lit(None).cast("long"))
    )
    p_side = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("purchase_id"))
        .select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            "ts",
            F.lit(1).alias("side"),
            "purchase_id",
        )
    )
    unioned = c_side.unionByName(p_side)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("side"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    enriched = unioned.select(
        "event_id",
        "user_id",
        "side",
        F.first("purchase_id", ignorenulls=True).over(w).alias("next_purchase_id"),
        F.first(F.when(F.col("purchase_id").isNotNull(), F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("next_purchase_ts"),
    )
    return enriched.filter(F.col("side") == 0).select(
        "event_id", "user_id", "next_purchase_id", "next_purchase_ts"
    )


@query(
    "join_existence_flag",
    """
    SELECT c_custkey, c_mktsegment,
           EXISTS (SELECT 1 FROM orders
                   WHERE o_custkey = c_custkey
                     AND o_orderpriority = '1-URGENT') AS has_urgent
    FROM customer
    """,
)
def join_existence_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence as a COLUMN, not a filter (mark join): every customer
    keeps their row, flagged for having an urgent order. Left join
    against the deduplicated urgent-key set — the distinct runs on the
    filtered orders projection (small), and the flag is null-checking
    the join key; semantically EXISTS, but the row set is preserved,
    which semi joins can't express."""
    c = table(spark, sf_dir, "customer")
    urgent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("u_key"))
        .distinct()
    )
    return c.join(urgent, c.c_custkey == F.col("u_key"), "left").select(
        "c_custkey",
        "c_mktsegment",
        F.col("u_key").isNotNull().alias("has_urgent"),
    )


@query(
    "join_nearest",
    """
    WITH evd AS (
        SELECT user_id, ts, min(event_id) AS event_id
        FROM events GROUP BY user_id, ts
    )
    SELECT o.o_orderkey, e.event_id AS nearest_event_id,
           e.dist_us
    FROM orders o
    LEFT JOIN LATERAL (
        SELECT event_id,
               abs(epoch_us(ts) - epoch_us(o.o_orderdate)) AS dist_us
        FROM evd WHERE evd.user_id = o.o_custkey
        ORDER BY abs(epoch_us(ts) - epoch_us(o.o_orderdate)), ts
        LIMIT 1
    ) e ON true
    """,
)
def join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-match join: for each order, the same user's event CLOSEST
    in time — either direction (vs `join_asof`/`join_asof_forward`,
    which are one-sided). Both direction candidates come from ONE
    union-window pass: tag events and probes, sort per user by
    (t, side), carry the last event backward and the first event
    forward, pick the closer (ties → the earlier event, matching the
    oracle's (distance, ts) order). Still one shuffle on the key —
    the naive per-row LATERAL re-scan the oracle runs is O(n·m) and
    exists only to define the semantics. Events are pre-deduped per
    (user, ts) with min(event_id) so same-timestamp ties are
    deterministic in both engines."""
    ev = table(spark, sf_dir, "events")
    evd = ev.groupBy("user_id", "ts").agg(F.min("event_id").alias("event_id"))
    e_side = evd.select(
        F.col("user_id").alias("k"),
        F.unix_micros("ts").alias("t"),
        F.lit(0).alias("side"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    o = table(spark, sf_dir, "orders")
    p_side = o.select(
        F.col("o_custkey").alias("k"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("t"),
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
    )
    unioned = e_side.unionByName(p_side)
    w = Window.partitionBy("k").orderBy("t", "side")
    back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev_mark = F.when(F.col("side") == 0, F.col("t"))
    anchored = unioned.select(
        "side",
        "o_orderkey",
        "t",
        F.last("event_id", ignorenulls=True).over(back).alias("b_id"),
        F.last(ev_mark, ignorenulls=True).over(back).alias("b_t"),
        F.first("event_id", ignorenulls=True).over(fwd).alias("f_id"),
        F.first(ev_mark, ignorenulls=True).over(fwd).alias("f_t"),
    )
    db = F.abs(F.col("t") - F.col("b_t"))
    df_ = F.abs(F.col("f_t") - F.col("t"))
    # closer wins; equal distance -> the earlier (backward) event, the
    # oracle's (distance, ts) tie rule. One side NULL -> the other.
    pick_b = F.col("f_t").isNull() | (F.col("b_t").isNotNull() & (db <= df_))
    return anchored.filter(F.col("side") == 1).select(
        "o_orderkey",
        F.when(pick_b, F.col("b_id")).otherwise(F.col("f_id")).alias(
            "nearest_event_id"
        ),
        F.when(pick_b, db).otherwise(df_).alias("dist_us"),
    )


@query(
    "join_fuzzy",
    """
    WITH dirty AS (
        SELECT s_suppkey AS dirty_id,
               substr(s_name, 1, 11) || 'Z' || substr(s_name, 13, 6) AS dname
        FROM supplier
    )
    SELECT dirty_id, s_suppkey AS master_key, s_name,
           CAST(levenshtein(dname, s_name) AS BIGINT) AS dist
    FROM dirty CROSS JOIN supplier
    WHERE length(dname) = length(s_name)
      AND levenshtein(dname, s_name) <= 1
    """,
)
def join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity-resolution join: re-link deterministically corrupted
    supplier names (one substituted char) back to the master list with
    edit distance <= 1 under the block-then-verify pattern every
    record-linkage system uses. Blocking is segment-pigeonhole (PassJoin
    family): split each equal-length name into 2 position-aligned
    halves — a single substitution can touch only one half, so every
    true match shares at least one half EXACTLY. Each side explodes to
    (segment_no, segment_value, length) keys, an equi-join on those
    keys yields candidates, and `levenshtein` verifies only candidates —
    never the cross product the oracle runs to define the semantics.
    At 100 TB the candidate join is an ordinary hash join on short
    string keys (broadcast/bloom-prunable); for indel-tolerant distance
    add PassJoin's +/-tau substring shifts per segment. On this fixture
    the constant 'Supplier#' prefix makes half-1 blocks degenerate —
    real names distribute; the verify step keeps results exact either
    way."""
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    dname = F.concat(
        F.substring("s_name", 1, 11), F.lit("Z"), F.substring("s_name", 13, 6)
    )
    dirty = s.select(F.col("s_suppkey").alias("dirty_id"), dname.alias("dname"))

    def seg_keys(df: DataFrame, col: str) -> DataFrame:
        half = (F.length(col) / 2).cast("int")
        return df.select(
            "*",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).alias("seg"),
                        F.substring(F.col(col), 1, 9).alias("segval"),
                        F.length(col).alias("slen"),
                    ),
                    F.struct(
                        F.lit(2).alias("seg"),
                        F.expr(f"substring({col}, 10, 9)").alias("segval"),
                        F.length(col).alias("slen"),
                    ),
                )
            ).alias("k"),
        ).select(df.columns + [F.col("k.seg"), F.col("k.segval"), F.col("k.slen")])

    d_keys = seg_keys(dirty, "dname")
    m_keys = seg_keys(s, "s_name")
    cand = (
        d_keys.join(m_keys, ["seg", "segval", "slen"])
        .select("dirty_id", "dname", "s_suppkey", "s_name")
        .distinct()
    )
    return cand.filter(F.levenshtein("dname", "s_name") <= 1).select(
        "dirty_id",
        F.col("s_suppkey").alias("master_key"),
        "s_name",
        F.levenshtein("dname", "s_name").cast("long").alias("dist"),
    )


@query(
    "join_asof_tolerance",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id,
           c.click_id AS last_click_id, c.ts AS last_click_ts
    FROM purchases p
    LEFT JOIN LATERAL (
        SELECT click_id, ts FROM clicks
        WHERE clicks.user_id = p.user_id
          AND clicks.ts <= p.ts
          AND clicks.ts >= p.ts - INTERVAL 10 MINUTE
        ORDER BY ts DESC LIMIT 1
    ) c ON true
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance: the user's latest click
    at-or-before each purchase, but only if it happened within the
    preceding 10 minutes — the attribution-window semantics (pandas
    `merge_asof(tolerance=...)`). Same one-shuffle union-window pattern
    as `join_asof`; the tolerance is a POST-filter on the carried
    match's timestamp (null out matches older than the window), so it
    adds zero cost — no extra join, no range explosion. The oracle's
    per-row LATERAL re-scan defines the semantics; the window pass is
    the scale path."""
    ev = table(spark, sf_dir, "events")
    p_side = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("click_id"),
    )
    c_side = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id", "ts", F.lit(0).alias("side"), "click_id",
        )
    )
    unioned = p_side.unionByName(c_side)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "event_id", "user_id", "side", "ts",
        F.last("click_id", ignorenulls=True).over(w).alias("cand_id"),
        F.last(F.when(F.col("click_id").isNotNull(), F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("cand_ts"),
    )
    in_window = F.col("cand_ts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTES")
    return carried.filter(F.col("side") == 1).select(
        "event_id",
        "user_id",
        F.when(in_window, F.col("cand_id")).alias("last_click_id"),
        F.when(in_window, F.col("cand_ts")).alias("last_click_ts"),
    )


@query(
    "join_bloom_prefilter",
    """
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey
                    AND c.c_mktsegment = 'BUILDING')
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join with a hand-rolled broadcast Bloom prefilter — the
    pattern for 'selective dim filter, huge probe side' when the engine's
    runtime row-level filtering doesn't reach your source (Spark 4's
    `bloom_filter_agg` is not in the public function registry, so this
    builds the filter from first principles).

    Build: k=3 positions per build key via seeded xxhash64 mod m=16384
    bits, OR-ed into 64-bit words with a `bit_or` aggregate (<=256 rows).
    The word->bits table is collected and inlined as a MAP literal —
    driver-side metadata of at most 2 KB, the same broadcast-scale-
    literal pattern as sim_ivf_topk's centroids. Probe: membership is
    pure codegen bit math (element_at + bitwise AND, all k must hit) —
    a map-only pass that drops most non-matching probe rows BEFORE the
    semi-join shuffle. False positives are removed by the exact semi
    join that follows, so the result is exactly the plain semi join
    (which is also the oracle). At 100 TB: bloom size is O(build keys),
    independent of probe size; the probe-side shuffle shrinks by the
    filter's selectivity."""
    m_bits = 1 << 14
    k = 3
    cust, orders = tables(spark, sf_dir, "customer", "orders")
    build = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")

    def positions(key):
        return [F.pmod(F.xxhash64(F.lit(j), key), F.lit(m_bits)) for j in range(k)]

    slots = build.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (p / 64).cast("long").alias("word"),
                        F.call_function(
                            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                        ).alias("mask"),
                    )
                    for p in positions(F.col("c_custkey"))
                ]
            )
        ).alias("s")
    ).select("s.word", "s.mask")
    words = slots.groupBy("word").agg(F.bit_or("mask").alias("bits")).collect()
    bloom = F.create_map(
        *[x for r in words for x in (F.lit(r["word"]), F.lit(r["bits"]))]
    )

    hit = F.lit(True)
    for p in positions(F.col("o_custkey")):
        word = (p / 64).cast("long")
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        hit = hit & (
            F.coalesce(F.element_at(bloom, word), F.lit(0)).bitwiseAND(mask) != 0
        )

    prefiltered = orders.filter(hit)
    return prefiltered.join(
        F.broadcast(build),
        prefiltered["o_custkey"] == build["c_custkey"],
        "left_semi",
    ).select("o_orderkey", "o_custkey", "o_totalprice")


_RADIUS = 0.02


@query(
    "join_grid_radius",
    f"""
    WITH pts AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(sqrt(power(a.x - b.x, 2) + power(a.y - b.y, 2)), 6) AS dist
    FROM pts a JOIN pts b ON a.vec_id < b.vec_id
    WHERE round(sqrt(power(a.x - b.x, 2) + power(a.y - b.y, 2)), 6)
          <= {_RADIUS}
    """,
)
def join_grid_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within Euclidean radius r in the plane of the
    first two embedding dimensions — the grid-bucketed spatial radius
    join (geo joins, collision detection, blocking for record linkage).

    Plan: snap each point to an r-sized grid cell; ONE side explodes to
    its 3×3 cell neighborhood, the other keys by its own cell; equi-join
    on the cell id, then the exact distance filter. dist ≤ r bounds
    each coordinate delta by r, so a qualifying pair's cells differ by
    ≤ 1 per axis and the neighborhood join has zero false negatives;
    each pair meets exactly once (the unexploded side sits in one cell,
    the exploded side covers it once, and the id_a < id_b filter keeps
    one orientation) — no distinct needed. This is an equi-shuffle on
    cell id: no cross join anywhere, candidate volume is Σ_cell
    9·|cell|², which r controls; at 100 TB dense cells are ordinary AQE
    skew-join work, and the 9× expansion sits on the probe side of a
    shuffled hash join. The oracle is the defining cross product.
    Exactness: float→double widening is exact on both engines, sqrt/pow
    are bit-identical libm calls, and the 6dp-rounded distance is what
    both sides threshold on."""
    e = table(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    )
    cell = lambda c: F.floor(c / _RADIUS).cast("long")  # noqa: E731
    left = pts.select(
        F.col("vec_id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cell(F.col("x")) + dx).alias("cx"),
                        (cell(F.col("y")) + dy).alias("cy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("c"),
    ).select("id_a", "xa", "ya", F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"))
    right = pts.select(
        F.col("vec_id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        cell(F.col("x")).alias("cx"),
        cell(F.col("y")).alias("cy"),
    )
    dist = F.round(
        F.sqrt(
            F.pow(F.col("xa") - F.col("xb"), 2) + F.pow(F.col("ya") - F.col("yb"), 2)
        ),
        6,
    )
    return (
        left.join(right, on=["cx", "cy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") <= _RADIUS)
    )


@query(
    "join_partition_pruned",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS revenue
    FROM orders
    WHERE year(o_orderdate) IN (1995, 1996)
    GROUP BY 1
    """,
)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — THE scan-elimination mechanism for
    star joins at 100 TB: the fact table is laid out partitioned by
    year, the filter lives on the DIMENSION side, and Spark reuses the
    broadcast dim to prune fact PARTITIONS at runtime (static pruning
    can't see through the join; without DPP this plan scans all seven
    years to keep two). The staged layout is the standard
    date-partitioned warehouse shape; the dim is a year attribute table
    filtered to a 2-of-7 selection.

    The plan carries `dynamicpruningexpression` on the fact scan's
    PartitionFilters (pinned in tests/test_plans.py) — files for the
    five pruned years are never opened. Result hash-matches the
    declarative year-IN reconstruction."""
    root = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_orders_by_year")
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        os.makedirs(_STAGE_ROOT, exist_ok=True)
        (
            table(spark, sf_dir, "orders")
            .withColumn("o_year", F.year("o_orderdate").cast("int"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(root)
        )
    fact = spark.read.parquet(root)
    dim = spark.range(1992, 1999).select(
        F.col("id").cast("int").alias("d_year"),
        (F.col("id").isin(1995, 1996)).alias("is_focus"),
    )
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("is_focus"))),
            fact["o_year"] == F.col("d_year"),
        )
        .groupBy("o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
        )
        .select("o_year", "n_orders", "revenue")
    )
