"""Round-5 additions, second module (batch 4+).

Registered after round5_ops so these queue behind the curated round-5
driver window (see round5_ops docstring): rank-based correlation,
sequence-pattern matching over event streams, deterministic weighted
sampling, referential-integrity auditing, and PMI collocation mining.

Oracle discipline (SURVEY.md §5): every statistic here is computed from
EXACT integer/decimal sufficient statistics on both engines, with any
floating-point combination confined to an identical final expression
over identical inputs — so the driver's value-hash comparison is exact,
not tolerance-based.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators import global_order as GO
from xlsx_to_database_spark.queries import fquant
from xlsx_to_database_spark.registry import query


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
    "text_pmi",
    """
    WITH toks AS (
      SELECT string_split(lower(text), ' ') AS t FROM documents
    ), bg AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM (SELECT t, CAST(unnest(range(1, len(t))) AS INT) AS i
            FROM toks) WHERE len(t) >= 2
    ), uni AS (
      SELECT w, count(*) AS cu FROM (
        SELECT unnest(t) AS w FROM toks
      ) GROUP BY w
    ), bgc AS (
      SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
    ), tot AS (
      SELECT (SELECT count(*) FROM bg) AS nbg,
             (SELECT sum(cu) FROM uni) AS nuni
    )
    SELECT w1, w2, CAST(c AS BIGINT) AS cnt,
           round(CAST(c * nuni * nuni AS DOUBLE)
                 / CAST(nbg * u1.cu * u2.cu AS DOUBLE), 6) AS pmi_lift
    FROM bgc
    JOIN uni u1 ON w1 = u1.w
    JOIN uni u2 ON w2 = u2.w
    CROSS JOIN tot
    WHERE c >= 5
    ORDER BY pmi_lift DESC, w1, w2 LIMIT 20
    """,
)
def text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining: rank adjacent
    bigrams by how much more often they co-occur than independence
    predicts — lift = P(w1,w2)/(P(w1)·P(w2)) — the classic phrase-mining
    signal (PMI is log(lift); the log is monotone, so ranking by the
    exact rational lift avoids cross-engine transcendental drift
    entirely). Builds on `text_markov_bigrams`' pair stream; differs in
    normalizing against BOTH marginals, which is what separates "common
    because its words are common" from a true collocation.

    Exactness: the lift's numerator and denominator are exact integer
    products (DECIMAL/hugeint), divided once in double on both engines,
    rounded to 6. Min-count ≥ 5 keeps the rare-pair noise PMI is
    notorious for out of the top-k.

    Scale shape: pair generation is a codegen transform+explode
    (map-only); both count aggregates collapse map-side onto
    vocabulary-bounded keys; the two marginal joins run at
    bigram-vocabulary scale, never the raw pair stream; totals attach
    via a broadcast one-row cross join."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.split(F.lower("text"), " ").alias("t"))
    bg = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i + 1).alias("w1"),
                        F.element_at(F.col("t"), i + 2).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    bgc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    tot = bgc.agg(F.sum("c").alias("nbg")).crossJoin(
        F.broadcast(uni.agg(F.sum("cu").alias("nuni")))
    )
    num = (
        F.col("c").cast("decimal(19,0)")
        * F.col("nuni").cast("decimal(19,0)")
        * F.col("nuni").cast("decimal(19,0)")
    )
    den = (
        F.col("nbg").cast("decimal(19,0)")
        * F.col("u1_cu").cast("decimal(19,0)")
        * F.col("u2_cu").cast("decimal(19,0)")
    )
    return (
        bgc.filter(F.col("c") >= 5)
        .join(uni.select(F.col("w").alias("w1"), F.col("cu").alias("u1_cu")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cu").alias("u2_cu")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("cnt"),
            F.round(num.cast("double") / den.cast("double"), 6).alias(
                "pmi_lift"
            ),
        )
        .orderBy(F.col("pmi_lift").desc(), "w1", "w2")
        .limit(20)
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
    "graph_clustering_coeff",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT u AS node, count(*) AS d FROM (
        SELECT u FROM e UNION ALL SELECT v FROM e
      ) t(u) GROUP BY u
    ), de AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ), tri AS (
      SELECT e1.s AS a, e1.t AS b, e2.t AS c
      FROM de e1 JOIN de e2 ON e1.t = e2.s
      JOIN de e3 ON e3.s = e1.s AND e3.t = e2.t
    ), pertri AS (
      SELECT node, count(*) AS n_tri FROM (
        SELECT a AS node FROM tri UNION ALL
        SELECT b FROM tri UNION ALL
        SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT deg.node AS part_key, CAST(deg.d AS BIGINT) AS degree,
           CAST(coalesce(n_tri, 0) AS BIGINT) AS n_triangles,
           round(CAST(2 * coalesce(n_tri, 0) AS DOUBLE)
                 / CAST(deg.d * (deg.d - 1) AS DOUBLE), 6) AS clustering
    FROM deg LEFT JOIN pertri ON pertri.node = deg.node
    WHERE deg.d >= 3
    ORDER BY clustering DESC, part_key LIMIT 20
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node — 2·tri(v)/(d(v)·(d(v)−1)),
    how close a node's neighborhood is to a clique (the community-
    structure statistic beside `graph_triangles`' global count). The
    triangle stream reuses the degree-ordered node-iterator (each
    triangle materialized exactly once, wedge volume bounded by
    arboricity), then one explode charges each triangle to its three
    corners and a left join folds zero-triangle nodes back in.

    Exact: triangle/degree counts are integers; the coefficient is one
    shared double division, rounded to 6; top-k ordering tie-breaks on
    node id.

    Scale shape: identical join graph to graph_triangles (equi-joins on
    node ids, AQE-managed skew) plus one vocabulary-scale aggregate
    and a TakeOrderedAndProject top-k — no new scale risk."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    de = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint(eager=True)
    )
    e1 = de.select(F.col("s").alias("s1"), F.col("t").alias("t1"))
    e2 = de.select(F.col("s").alias("s2"), F.col("t").alias("t2"))
    closer = de.select(F.col("s").alias("ws"), F.col("t").alias("wt"))
    tri = (
        e1.join(e2, F.col("t1") == F.col("s2"))
        .select(
            F.col("s1").alias("ws"), F.col("t1").alias("mid"),
            F.col("t2").alias("wt"),
        )
        .join(closer, ["ws", "wt"])
    )
    pertri = (
        tri.select(
            F.explode(F.array("ws", "mid", "wt")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    dd = F.col("d").cast("double")
    return (
        deg.filter(F.col("d") >= 3)
        .join(pertri, "node", "left")
        .select(
            F.col("node").alias("part_key"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.round(
                (F.lit(2.0) * F.coalesce(F.col("n_tri"), F.lit(0)).cast("double"))
                / (dd * (dd - F.lit(1.0))),
                6,
            ).alias("clustering"),
        )
        .orderBy(F.col("clustering").desc(), "part_key")
        .limit(20)
    )


@query(
    "ml_naive_bayes",
    """
    WITH toks AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), lt AS (
      SELECT lang, tok, count(*) AS c_lt FROM toks GROUP BY lang, tok
    ), lc AS (
      SELECT lang, sum(c_lt) AS n_l FROM lt GROUP BY lang
    ), tc AS (
      SELECT tok, sum(c_lt) AS c_t FROM lt GROUP BY tok
    ), tot AS (
      SELECT sum(c_lt) AS n, count(DISTINCT tok) AS v FROM lt
    ), scored AS (
      SELECT lt.lang, lt.tok, c_lt,
             CAST((c_lt + 1) * n AS DOUBLE)
               / CAST((n_l + v) * c_t AS DOUBLE) AS lift
      FROM lt JOIN lc USING (lang) JOIN tc USING (tok) CROSS JOIN tot
      WHERE c_lt >= 5
    )
    SELECT lang, tok, CAST(c_lt AS BIGINT) AS cnt,
           round(lift, 6) AS nb_lift, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY lift DESC, tok) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes class-feature weights with Laplace
    smoothing — per language, the tokens whose smoothed in-class
    probability most exceeds their corpus probability (the per-class
    log-likelihood-ratio table IS the trained NB model; emitting the
    top-3 per class keeps the oracle bounded). The lift
    (c_lt+1)·N / ((N_l+V)·c_t) orders identically to the log weight.

    Exact: all counts integer; lift is one shared double division over
    exact integer products (DECIMAL on Spark, hugeint in DuckDB);
    per-class ranking tie-breaks on token.

    Scale shape: training a text classifier on 100 TB reduces to these
    three vocabulary-bounded aggregates (class-token, class, token) —
    map-side combine everywhere, one broadcast one-row totals attach,
    and the rank window partitions by class (bounded)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    lt = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c_lt"))
    lt = lt.localCheckpoint(eager=True)  # feeds 4 consumers below
    lc = lt.groupBy("lang").agg(F.sum("c_lt").alias("n_l"))
    tc = lt.groupBy("tok").agg(F.sum("c_lt").alias("c_t"))
    tot = lt.agg(
        F.sum("c_lt").alias("n"), F.countDistinct("tok").alias("v")
    )
    # r14 dragnet: the lift expression and rank/final selects are
    # parsed SQL (identical trees — same DECIMAL(19,0) products, the
    # same double division, window and casts); the Column-DSL form
    # cost ~650 py4j round-trips of plan construction per call.
    scored = (
        lt.filter(F.col("c_lt") >= 5)
        .join(lc, "lang")
        .join(tc, "tok")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "lang", "tok", "c_lt",
            "CAST(CAST(c_lt + 1 AS DECIMAL(19,0))"
            " * CAST(n AS DECIMAL(19,0)) AS DOUBLE)"
            " / CAST(CAST(n_l + v AS DECIMAL(19,0))"
            " * CAST(c_t AS DECIMAL(19,0)) AS DOUBLE) AS lift",
        )
    )
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY lang"
            " ORDER BY lift DESC, tok) AS rk",
        )
        .filter(F.col("rk") <= 3)
        .selectExpr(
            "lang", "tok",
            "CAST(c_lt AS BIGINT) AS cnt",
            "round(lift, 6) AS nb_lift",
            "CAST(rk AS INT) AS rk",
        )
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
    import os

    from xlsx_to_database_spark.queries.sources_sinks import (
        _STAGE_ROOT, _tag,
    )
    from xlsx_to_database_spark.sources import xlsx_io
    from xlsx_to_database_spark.sources.xlsx import register_xlsx_source

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
    import os

    from xlsx_to_database_spark.queries.sources_sinks import (
        _STAGE_ROOT, _tag,
    )

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
    import os

    from xlsx_to_database_spark.queries.sources_sinks import (
        _STAGE_ROOT, _tag,
    )

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
    import os

    from xlsx_to_database_spark.queries.sources_sinks import (
        _STAGE_ROOT, _tag,
    )

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
    "ml_logreg_newton",
    """
    WITH b AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), s AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
             sum(y) AS sy, sum(x * y) AS sxy
      FROM b
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           round(CAST(2 * (sxx * (2 * sy - n) - sx * (2 * sxy - sx))
                      AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS beta0,
           round(CAST(2 * (n * (2 * sxy - sx) - sx * (2 * sy - n))
                      AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6, 6)
             AS beta1_per_m_cents
    FROM s
    """,
)
def ml_logreg_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression, one exact Newton-Raphson step from β=0 —
    the IRLS iteration that trains every GLM, materialized as closed
    form: at β=0, p=½ and W=¼I, so β₁ = 4(XᵀX)⁻¹Xᵀ(y−½), which for
    [intercept, price] is a 2×2 Cramer solve over five sufficient
    statistics. The full model is this step iterated; one step is
    already the calibrated direction (and the exact quantity a
    distributed L-BFGS/IRLS computes per pass at 100 TB: one scan →
    five sums → driver-side 2×2 solve).

    Exact: price in integer cents, so n/Σx/Σx²/Σy/Σxy are exact
    DECIMAL/hugeint; half-integer targets are cleared by carrying
    2(y−½) as the integer 2y−1; both engines divide the same exact
    integer determinant pair in double, rounded to 6 (slope reported
    per 10⁶ cents so the rounded digits are informative)."""
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("decimal(19,0)")
        .alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    s = b.agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").cast("decimal(19,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, sxy = F.col("sy"), F.col("sxy")
    det = (n * sxx - sx * sx).cast("double")
    num0 = (F.lit(2) * (sxx * (F.lit(2) * sy - n) - sx * (F.lit(2) * sxy - sx))).cast(
        "double"
    )
    num1 = (F.lit(2) * (n * (F.lit(2) * sxy - sx) - sx * (F.lit(2) * sy - n))).cast(
        "double"
    )
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        F.round(num0 / det, 6).alias("beta0"),
        F.round(num1 / det * F.lit(1e6), 6).alias("beta1_per_m_cents"),
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
    import os

    from xlsx_to_database_spark.queries.sources_sinks import _tag
    from xlsx_to_database_spark.sources import sinks as SK

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
    "graph_assortativity",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT u AS node, count(*) AS d FROM (
        SELECT u FROM e UNION ALL SELECT v FROM e
      ) t(u) GROUP BY u
    ), ends AS (
      SELECT du.d AS x, dv.d AS y
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
      UNION ALL
      SELECT dv.d, du.d
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS m,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(x * y) AS DOUBLE) AS sxy
      FROM ends
    )
    SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           round((m * sxy - sx * sx)
                 / (m * sxx - sx * sx), 6) AS assortativity
    FROM s
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — the Pearson
    correlation of degrees across edge endpoints (Newman's r): positive
    means hubs attach to hubs (social-network shape), negative means
    hub-and-spoke (infrastructure shape) — the one-number summary of
    whether hub-targeted sampling/salting strategies will pay off on
    this graph. Directionalizing each undirected edge BOTH ways makes
    the two endpoint marginals identical, so r needs only m, Σx, Σx²,
    Σxy — four exact integer sums over the 2m endpoint pairs.

    Exact: degrees are integers; the four sufficient statistics are
    exact (hugeint/long) sums; one shared double expression, round 6.

    Scale shape: the same materialize-once edge list as
    graph_triangles, two degree attaches (equi-joins on node id), one
    aggregate. No wedge join at all — strictly cheaper than the
    triangle family."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ej = e.join(du, "u").join(dv, "v")
    ends = ej.select(
        F.col("du").alias("x"), F.col("dv").alias("y")
    ).unionAll(ej.select(F.col("dv").alias("x"), F.col("du").alias("y")))
    s = ends.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sxy"),
    )
    md = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    return s.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.round(
            (md * sxy - sx * sx) / (md * sxx - sx * sx), 6
        ).alias("assortativity"),
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
    import os

    from xlsx_to_database_spark.queries.sources_sinks import (
        _STAGE_ROOT, _tag,
    )

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


def _canon_url(u):
    """Canonicalize a URL column: lowercase scheme+host, strip a default
    :443 port, drop the #fragment, drop utm_* tracking params, sort the
    surviving query params, strip one trailing path slash. Pure codegen
    string/array ops — identical semantics spelled in the DuckDB oracle."""
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z]+)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z]+://", "")
    rest = F.regexp_replace(rest, r"#.*$", "")          # fragment
    host = F.lower(F.regexp_extract(rest, r"^([^/?]+)", 1))
    host = F.regexp_replace(host, r":443$", "")
    pq = F.regexp_replace(rest, r"^[^/?]+", "")         # /path?query
    path = F.regexp_replace(pq, r"\?.*$", "")
    path = F.regexp_replace(path, r"/$", "")
    query = F.when(
        pq.contains("?"), F.regexp_replace(pq, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (~p.startswith("utm_")) & (p != ""),
        )
    )
    qcanon = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, qcanon)


@query(
    "url_canonicalize",
    """
    WITH urls AS (
      SELECT doc_id, unnest([
        'HTTPS://' || upper(source) || '.Example.COM:443/docs/'
          || CAST(doc_id AS VARCHAR) || '/?b=2&a=1#section-3',
        'https://' || source || '.example.com/docs/'
          || CAST(doc_id AS VARCHAR) || '?a=1&b=2&utm_source=feed',
        'https://' || source || '.example.com/docs/'
          || CAST(doc_id AS VARCHAR) || '/?utm_campaign=x&b=2&a=1'
      ]) AS u
      FROM documents
    ), c AS (
      SELECT doc_id, u,
             lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) || '://' ||
             regexp_replace(
               lower(regexp_extract(regexp_replace(regexp_replace(u,
                     '^[A-Za-z]+://', ''), '#.*$', ''), '^([^/?]+)', 1)),
               ':443$', '') ||
             regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(regexp_replace(u, '^[A-Za-z]+://', ''),
                                '#.*$', ''),
                 '^[^/?]+', ''), '\\?.*$', ''), '/$', '') ||
             CASE WHEN len(list_sort(list_filter(
                      string_split(CASE WHEN contains(
                          regexp_replace(regexp_replace(regexp_replace(u,
                              '^[A-Za-z]+://', ''), '#.*$', ''),
                              '^[^/?]+', ''), '?')
                        THEN regexp_replace(regexp_replace(regexp_replace(
                            regexp_replace(u, '^[A-Za-z]+://', ''),
                            '#.*$', ''), '^[^/?]+', ''), '^[^?]*\\?', '')
                        ELSE '' END, '&'),
                      p -> NOT starts_with(p, 'utm_') AND p <> ''))) > 0
                  THEN '?' || array_to_string(list_sort(list_filter(
                      string_split(CASE WHEN contains(
                          regexp_replace(regexp_replace(regexp_replace(u,
                              '^[A-Za-z]+://', ''), '#.*$', ''),
                              '^[^/?]+', ''), '?')
                        THEN regexp_replace(regexp_replace(regexp_replace(
                            regexp_replace(u, '^[A-Za-z]+://', ''),
                            '#.*$', ''), '^[^/?]+', ''), '^[^?]*\\?', '')
                        ELSE '' END, '&'),
                      p -> NOT starts_with(p, 'utm_') AND p <> '')), '&')
                  ELSE '' END AS canon
      FROM urls
    )
    SELECT canon AS canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(count(DISTINCT u) AS BIGINT) AS n_distinct_raw
    FROM c GROUP BY canon
    """,
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the FIRST pass of every web-corpus
    pipeline (CommonCrawl-style): the same page arrives as casing
    variants, tracking-parameter variants, fragment variants and
    trailing-slash variants; canonicalizing (lowercase scheme/host,
    strip :443, drop #fragment and utm_*, sort params, strip trailing
    slash) collapses them BEFORE any content hashing, making the
    expensive dedup stages smaller. Three deterministic raw variants
    are synthesized per document; the op must collapse each trio to ONE
    canonical URL (pinned by the exact oracle replaying the identical
    string pipeline).

    Scale shape: canonicalization is map-only codegen (regex + array
    sort on short strings); the only shuffle is the canonical-key
    count, combiner-friendly. No UDF anywhere."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    did = F.col("doc_id").cast("string")
    urls = d.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat(
                    F.lit("HTTPS://"), F.upper("source"),
                    F.lit(".Example.COM:443/docs/"), did,
                    F.lit("/?b=2&a=1#section-3"),
                ),
                F.concat(
                    F.lit("https://"), F.col("source"),
                    F.lit(".example.com/docs/"), did,
                    F.lit("?a=1&b=2&utm_source=feed"),
                ),
                F.concat(
                    F.lit("https://"), F.col("source"),
                    F.lit(".example.com/docs/"), did,
                    F.lit("/?utm_campaign=x&b=2&a=1"),
                ),
            )
        ).alias("u"),
    )
    return (
        urls.select("u", _canon_url(F.col("u")).alias("canon"))
        .groupBy(F.col("canon").alias("canonical_url"))
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.countDistinct("u").alias("n_distinct_raw"),
        )
    )


@query(
    "ml_decision_stump",
    """
    WITH cells AS (
      SELECT CAST(floor(o_totalprice / 10000) AS BIGINT) AS b,
             count(*) AS n,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS k
      FROM orders GROUP BY 1
    ), cum AS (
      SELECT b,
             sum(n) OVER (ORDER BY b) AS nl,
             sum(k) OVER (ORDER BY b) AS kl,
             (SELECT sum(n) FROM cells) AS nt,
             (SELECT sum(k) FROM cells) AS kt
      FROM cells
    ), scored AS (
      SELECT b, nl, nt - nl AS nr,
             round((CAST(kl * kl + (nl - kl) * (nl - kl) AS DOUBLE)
                    / CAST(nl AS DOUBLE))
                   + (CAST((kt - kl) * (kt - kl)
                           + ((nt - nl) - (kt - kl))
                             * ((nt - nl) - (kt - kl)) AS DOUBLE)
                      / CAST(nt - nl AS DOUBLE)), 9) AS g,
             CAST(nt AS DOUBLE) AS ntd
      FROM cum WHERE nl > 0 AND nt - nl > 0
    )
    SELECT CAST((b + 1) * 10000 AS BIGINT) AS split_below,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           round((ntd - g) / ntd, 6) AS gini_after
    FROM scored
    ORDER BY g DESC, b LIMIT 1
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-feature split by Gini impurity — the depth-1 decision
    tree, and more importantly the EXACT inner computation every
    distributed tree learner (GBT/RF) runs per feature per node:
    histogram the feature (value buckets × class counts), prefix-sum
    the histogram, score every cut from the cumulative counts, take the
    argmax. One fact-table aggregate to ≤ |buckets| cells; everything
    after runs at histogram scale.

    Exact: cell counts are integers; the split score g = ΣcL²/nL +
    ΣcR²/nR (monotone inverse of weighted Gini) is computed from exact
    integer squares with one shared double division per side, rounded
    to 9 BEFORE the argmax so both engines rank identically, bucket id
    as tie-break. Degenerate cuts (empty side) are excluded."""
    o = table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.floor(F.col("o_totalprice") / 10000).cast("long").alias("b")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("o_orderstatus") == "F").alias("k"),
    )
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = cells.agg(
        F.sum("n").alias("nt"), F.sum("k").alias("kt")
    )
    cum = (
        cells.withColumn("nl", F.sum("n").over(w))
        .withColumn("kl", F.sum("k").over(w))
        .crossJoin(F.broadcast(tot))
    )
    nl, kl = F.col("nl"), F.col("kl")
    nr, kr = F.col("nt") - nl, F.col("kt") - kl
    g = F.round(
        (kl * kl + (nl - kl) * (nl - kl)).cast("double") / nl.cast("double")
        + (kr * kr + (nr - kr) * (nr - kr)).cast("double")
        / nr.cast("double"),
        9,
    )
    scored = cum.filter((nl > 0) & (nr > 0)).select(
        "b",
        nl.alias("nl2"),
        nr.alias("nr2"),
        g.alias("g"),
        F.col("nt").cast("double").alias("ntd"),
    )
    return (
        scored.orderBy(F.col("g").desc(), "b")
        .limit(1)
        .select(
            ((F.col("b") + 1) * 10000).cast("long").alias("split_below"),
            F.col("nl2").cast("long").alias("n_left"),
            F.col("nr2").cast("long").alias("n_right"),
            F.round((F.col("ntd") - F.col("g")) / F.col("ntd"), 6).alias(
                "gini_after"
            ),
        )
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


@query("text_compression_ratio")  # rows-only: zlib is not SQL-expressible
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal — zlib(text)/len(text): highly
    repetitive machine junk compresses far below natural prose, making
    this one of the standard cheap filters in pretraining pipelines
    (used alongside `text_repetition`'s n-gram rates; compression
    catches LONG-range repetition n-grams miss). No SQL engine exposes
    zlib, so this is a legitimate Arrow-batched `mapInPandas` op — the
    UDF carries its own CPU cost per byte, which is the honest price of
    the signal; everything around it (projection, filter, aggregation)
    stays JVM-side. Deterministic: zlib level 6 output length is fixed
    for fixed input, so the per-doc ratios are stable across runs/
    engines — verified by unit test, row-count checked by the driver."""
    import pandas as pd  # noqa: F401

    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def ratio_batches(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            comp = raw.map(lambda bs: len(zlib.compress(bs, 6)))
            out = pdf[["doc_id"]].copy()
            out["n_bytes"] = raw.map(len).astype("int64")
            out["ratio"] = (comp / raw.map(len).clip(lower=1)).round(4)
            yield out

    return d.mapInPandas(
        ratio_batches, "doc_id long, n_bytes long, ratio double"
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
    "graph_katz_bounded",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), ed AS (
      SELECT u, v FROM e UNION ALL SELECT v, u FROM e
    ), v1 AS (
      SELECT u AS node, count(*) AS c FROM ed GROUP BY u
    ), v2 AS (
      SELECT ed.u AS node, sum(v1.c) AS c
      FROM ed JOIN v1 ON v1.node = ed.v GROUP BY ed.u
    ), v3 AS (
      SELECT ed.u AS node, sum(v2.c) AS c
      FROM ed JOIN v2 ON v2.node = ed.v GROUP BY ed.u
    )
    SELECT v1.node AS part_key,
           CAST(v1.c AS BIGINT) AS walks_1,
           CAST(coalesce(v2.c, 0) AS BIGINT) AS walks_2,
           CAST(coalesce(v3.c, 0) AS BIGINT) AS walks_3,
           round(CAST(0.05 AS DOUBLE) * v1.c
                 + CAST(0.0025 AS DOUBLE) * coalesce(v2.c, 0)
                 + CAST(0.000125 AS DOUBLE) * coalesce(v3.c, 0), 6) AS katz
    FROM v1 LEFT JOIN v2 ON v2.node = v1.node
            LEFT JOIN v3 ON v3.node = v1.node
    ORDER BY katz DESC, part_key LIMIT 20
    """,
)
def graph_katz_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality, 3-term truncation — Σₖ αᵏ·(walks of length k
    ending at the node), α=0.05: the influence measure that counts ALL
    short walks, not just direct edges (degree = the k=1 term;
    `graph_pagerank` normalizes by degree, Katz rewards raw reach).
    Truncating at k=3 with α·λmax < 1 bounds the tail geometrically —
    and makes the computation three sparse matrix-vector products,
    i.e. three (edges ⋈ vector → groupBy) rounds, the exact shape a
    1000-executor Pregel/GraphX pass has. Walk counts are exact
    integers; the αᵏ weights are exact decimal literals; one shared
    final expression, rounded 6, id tie-break on the top-k."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    ed = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    v1 = ed.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    v2 = (
        ed.join(
            v1.select(F.col("node").alias("v"), F.col("c1").alias("cv")), "v"
        )
        .groupBy(F.col("u").alias("node"))
        .agg(F.sum("cv").alias("c2"))
    )
    v3 = (
        ed.join(
            v2.select(F.col("node").alias("v"), F.col("c2").alias("cv")), "v"
        )
        .groupBy(F.col("u").alias("node"))
        .agg(F.sum("cv").alias("c3"))
    )
    out = (
        v1.join(v2, "node", "left")
        .join(v3, "node", "left")
        .select(
            F.col("node").alias("part_key"),
            F.col("c1").cast("long").alias("walks_1"),
            F.coalesce(F.col("c2"), F.lit(0)).cast("long").alias("walks_2"),
            F.coalesce(F.col("c3"), F.lit(0)).cast("long").alias("walks_3"),
            F.round(
                F.lit(0.05) * F.col("c1")
                + F.lit(0.0025) * F.coalesce(F.col("c2"), F.lit(0))
                + F.lit(0.000125) * F.coalesce(F.col("c3"), F.lit(0)),
                6,
            ).alias("katz"),
        )
    )
    return out.orderBy(F.col("katz").desc(), "part_key").limit(20)


@query(
    "sim_maxsim",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), sub AS (
      SELECT vec_id,
             [e[1:16], e[17:32], e[33:48], e[49:64]] AS s,
             [sqrt(list_sum(list_transform(e[1:16],  x -> x * x))),
              sqrt(list_sum(list_transform(e[17:32], x -> x * x))),
              sqrt(list_sum(list_transform(e[33:48], x -> x * x))),
              sqrt(list_sum(list_transform(e[49:64], x -> x * x)))] AS nr
      FROM v
    ), q AS (
      SELECT s AS qs, nr AS qn FROM sub WHERE vec_id = 0
    ), scored AS (
      SELECT vec_id,
             list_sum(list_transform(generate_series(1, 4), qi ->
               list_max(list_transform(generate_series(1, 4), dj ->
                 round(list_sum(list_transform(generate_series(1, 16),
                         k -> qs[qi][k] * s[dj][k]))
                       / (qn[qi] * nr[dj]), 6))))) AS maxsim
      FROM sub, q
    )
    SELECT vec_id, round(maxsim, 6) AS maxsim
    FROM scored ORDER BY maxsim DESC, vec_id LIMIT 10
    """,
)
def sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT-style MaxSim): treat each
    64-dim embedding as FOUR 16-dim sub-vectors (the multi-vector
    representation), score a document by Σ over query sub-vectors of
    the BEST-matching document sub-vector — the scoring family that
    beats single-vector cosine when different parts of a query match
    different parts of a document. Top-10 against sub-query 0.

    The whole scan is MAP-ONLY: sub-norms are row-local, the query's
    four sub-vectors attach via a one-row broadcast, the 4×4 sub-cosine
    matrix is codegen array math, TakeOrderedAndProject cuts the
    top-10. At 100 TB this is one bandwidth-bound pass — the same
    envelope as `sim_cosine_topk`, ×(#sub-vectors)² FLOPs, and the
    natural pre-filter tier for an exact multi-vector re-rank.

    Determinism: each sub-cosine is rounded to 6 BEFORE max; the four
    maxima add in a fixed order; final round 6 + vec_id tie-break. The
    norms are computed once per sub-vector and reused across the 16
    sub-cosines."""
    from xlsx_to_database_spark.operators.similarity import (
        _dot_sql as dot_sql,
        _norm_sql as norm_sql,
    )

    e = table(spark, sf_dir, "embeddings")

    base = e.selectExpr(
        "vec_id",
        *[f"slice(embedding, {1 + 16 * i}, 16) AS s{i}" for i in range(4)],
    ).selectExpr(
        "vec_id",
        *[f"s{i}" for i in range(4)],
        *[f"{norm_sql(f's{i}')} AS n{i}" for i in range(4)],
    )
    q = base.filter(F.col("vec_id") == 0).selectExpr(
        *[f"s{i} AS qs{i}" for i in range(4)],
        *[f"n{i} AS qn{i}" for i in range(4)],
    )
    per_q = [
        "greatest(" + ", ".join(
            f"round({dot_sql(f'qs{qi}', f's{dj}')} / (qn{qi} * n{dj}), 6)"
            for dj in range(4)
        ) + ")"
        for qi in range(4)
    ]
    scored = base.crossJoin(F.broadcast(q)).selectExpr(
        "vec_id",
        f"round({per_q[0]} + {per_q[1]} + {per_q[2]} + {per_q[3]}, 6)"
        " AS maxsim",
    )
    return scored.orderBy(F.col("maxsim").desc(), "vec_id").limit(10)


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
    import os

    from xlsx_to_database_spark.queries.sources_sinks import (
        _STAGE_ROOT, _tag,
    )

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


_WIN_M = 2147483647          #: Mersenne-prime modulus for k-gram hashes
_WIN_C1 = 1000003 * 1000003 % _WIN_M
_WIN_C2 = 1000003


@query(
    "dedup_winnowing",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), th AS (
      SELECT doc_id,
             list_transform(t, x ->
               CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)) AS h
      FROM toks WHERE len(t) >= 6
    ), grams AS (
      SELECT doc_id,
             list_transform(range(1, len(h) - 1), i ->
               ((h[i] % {_WIN_M}) * {_WIN_C1} % {_WIN_M}
                + (h[i+1] % {_WIN_M}) * {_WIN_C2} % {_WIN_M}
                + (h[i+2] % {_WIN_M})) % {_WIN_M}) AS g
      FROM th
    ), fps AS (
      SELECT DISTINCT doc_id, fp
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(g) - 2), i ->
                 list_min(g[i:i+3]))) AS fp
        FROM grams
      )
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared_fps
    FROM pairs WHERE shared >= 3
    """,
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer–Wilkerson–Aiken, the MOSS
    algorithm): hash every 3-gram, slide a window of 4 consecutive
    k-gram hashes, keep each window's MINIMUM — the guarantee MinHash
    can't give: any shared run of ≥ k+w−1 tokens between two documents
    is CERTAIN to share a fingerprint (position-based selection, no
    probabilistic recall), which is why it's the standard for code
    plagiarism and quote detection. Pairs sharing ≥3 fingerprints are
    emitted with their overlap count.

    Exact cross-engine: token hashes are md5-prefix integers; k-gram
    combination is modular integer arithmetic (Mersenne modulus, all
    intermediates < 2⁶³) replicated verbatim in the oracle; window
    minima are integer mins — no floats anywhere.

    Scale shape: fingerprinting is MAP-ONLY codegen array math (no
    shuffle until the distinct); candidate pairs come from the
    fingerprint posting lists (equi-join on fp — pair volume rides the
    posting-list sizes like every inverted-index join, with AQE
    handling hot fingerprints), never all-pairs."""
    # r14: the fingerprinting chain (token hash transform, k-gram
    # modular combine, window minima) is emitted as parsed SQL strings
    # (guide §1.2 driver-latency class — the Column-DSL lambdas cost
    # ~0.4 s of py4j plan construction per call). element_at (1-based,
    # matching the DSL) rather than [] (0-based in SQL); the parsed
    # form resolves to the identical expression tree.
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower("text"), " ").alias("t")
    ).filter(F.size("t") >= 6)
    th = toks.selectExpr(
        "doc_id",
        "transform(t, x -> CAST(conv(substring(md5(x), 1, 8), 16, 10)"
        " AS BIGINT)) AS h",
    )
    M, C1, C2 = _WIN_M, _WIN_C1, _WIN_C2
    grams = th.selectExpr(
        "doc_id",
        "transform(sequence(1, size(h) - 2), i -> "
        f"((element_at(h, i) % {M}) * {C1} % {M} "
        f"+ (element_at(h, i + 1) % {M}) * {C2} % {M} "
        f"+ (element_at(h, i + 2) % {M})) % {M}) AS g",
    )
    fps = (
        grams.selectExpr(
            "doc_id",
            "explode(transform(sequence(1, size(g) - 3), "
            "i -> array_min(slice(g, i, 4)))) AS fp",
        )
        .distinct()
    )
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return pairs.filter(F.col("shared") >= 3).select(
        "doc_a", "doc_b", F.col("shared").cast("long").alias("shared_fps")
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
    import math

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
    "ml_knn_classify",
    """
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, label, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v
    ), q AS (
      SELECT vec_id AS qid, label AS true_label, e AS qe, nrm AS qn
      FROM n WHERE vec_id < 10
    ), scored AS (
      SELECT qid, true_label, n.vec_id, n.label,
             round(list_sum(list_transform(generate_series(1, len(e)),
                     i -> e[i] * qe[i])) / (nrm * qn), 6) AS sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY round(list_sum(
                                    list_transform(generate_series(1, len(e)),
                                      i -> e[i] * qe[i])) / (nrm * qn), 6)
                                  DESC, n.vec_id) AS rk
      FROM n CROSS JOIN q WHERE n.vec_id <> qid
    ), votes AS (
      SELECT qid, true_label, label, count(*) AS c
      FROM scored WHERE rk <= 5 GROUP BY 1, 2, 3
    ), pick AS (
      SELECT qid, true_label, label AS predicted, c,
             row_number() OVER (PARTITION BY qid
                                ORDER BY c DESC, label) AS pr
      FROM votes
    )
    SELECT qid AS vec_id, true_label, predicted,
           CAST(c AS BIGINT) AS votes,
           predicted = true_label AS correct
    FROM pick WHERE pr = 1
    """,
)
def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification (k=5, cosine, majority vote) for ten query
    vectors against the labeled corpus — the zero-training baseline
    every embedding space gets evaluated with, and structurally the
    INFERENCE half of `sim_knn_join` (neighbors → votes → argmax
    label). One corpus pass scores all ten queries (queries broadcast,
    per-query top-5 via a bounded rank window), then vote counting and
    the argmax run at (queries × labels) scale. True labels ride along
    so the result doubles as a leave-one-out accuracy probe.

    Determinism: sims rounded to 6 BEFORE ranking with vec_id
    tie-break; vote argmax tie-breaks on the smaller label."""
    from xlsx_to_database_spark.operators.similarity import (
        _dot_sql,
        _norm_sql,
    )

    # Norms are computed once per row and reused by all ten queries.
    e = table(spark, sf_dir, "embeddings")
    n = e.selectExpr(
        "vec_id",
        "label",
        "embedding AS e",
        f"{_norm_sql('embedding')} AS nrm",
    )
    q = n.filter(F.col("vec_id") < 10).selectExpr(
        "vec_id AS qid", "label AS true_label", "e AS qe", "nrm AS qn"
    )
    scored = (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .selectExpr(
            "qid", "true_label", "vec_id", "label",
            f"round({_dot_sql('e', 'qe')} / (nrm * qn), 6) AS sim",
        )
    )
    votes = (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY qid"
            " ORDER BY sim DESC, vec_id) AS rk",
        )
        .filter(F.col("rk") <= 5)
        .groupBy("qid", "true_label", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        votes.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY qid"
            " ORDER BY c DESC, label) AS pr",
        )
        .filter(F.col("pr") == 1)
        .selectExpr(
            "qid AS vec_id",
            "true_label",
            "label AS predicted",
            "CAST(c AS BIGINT) AS votes",
            "label = true_label AS correct",
        )
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


_RAKE_STOP_SQL = "['the','a','of','and','to','in','is','on','for','with']"


@query(
    "text_rake_keyphrases",
    f"""
    WITH toks AS (
      SELECT doc_id, i, t[i] AS w,
             list_contains({_RAKE_STOP_SQL}, t[i]) AS stop
      FROM (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      ), (SELECT unnest(range(1, 4097)) AS i) ix
      WHERE i <= len(t)
    ), isl AS (
      SELECT doc_id, i, w, stop,
             sum(CASE WHEN stop THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM toks
    ), phrases AS (
      SELECT doc_id, island,
             string_agg(w, ' ' ORDER BY i) AS phrase,
             count(*) AS plen
      FROM isl WHERE NOT stop GROUP BY doc_id, island
    ), wstats AS (
      SELECT w, count(*) AS freq, sum(plen) AS deg
      FROM isl JOIN phrases USING (doc_id, island)
      WHERE NOT stop GROUP BY w
    ), pdistinct AS (
      SELECT phrase, count(*) AS n_occur,
             min(plen) AS n_words
      FROM phrases GROUP BY phrase
    ), scored AS (
      SELECT phrase, n_occur, n_words,
             sum(CAST(CAST(deg AS DOUBLE) / freq AS DECIMAL(28,18))) AS sc
      FROM (
        SELECT p.phrase, p.n_occur, p.n_words,
               pw.t[pw.i] AS w
        FROM pdistinct p, LATERAL (
          SELECT string_split(p.phrase, ' ') AS t,
                 unnest(range(1, p.n_words + 1)) AS i
        ) pw
      ) px JOIN wstats USING (w)
      GROUP BY phrase, n_occur, n_words
    )
    SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_occur AS BIGINT) AS n_occur,
           round(CAST(sc AS DOUBLE), 6) AS rake_score
    FROM scored
    ORDER BY rake_score DESC, phrase LIMIT 15
    """,
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rapid Automatic Keyword Extraction):
    split each document into candidate phrases at stopword boundaries,
    score each word by degree/frequency over the phrase co-occurrence
    graph (degree = Σ length of phrases containing it — words living in
    long phrases score up), and score a phrase as the sum of its
    words' ratios — the classic unsupervised keyphrase baseline, and a
    corpus-curation signal (what is this corpus ABOUT) that TF-IDF's
    single-token view can't give. Top-15 phrases.

    Determinism: per-word deg/freq ratios are engine-identical doubles
    quantized to DECIMAL(28,18) BEFORE the per-phrase sum (sum-order
    discipline); top-k tie-breaks on the phrase text.

    Scale shape: island detection is a per-document window (bounded by
    doc length); phrase and word statistics are vocabulary-bounded
    aggregates with map-side combine; scoring joins run at
    distinct-phrase × phrase-length scale."""
    from xlsx_to_database_spark.operators.text import STOPWORDS

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("i0", "w"),
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        "w",
        F.col("w").isin(*STOPWORDS).alias("stop"),
    )
    isl = toks.withColumn(
        "island",
        F.sum(F.when(F.col("stop"), 1).otherwise(0)).over(
            Window.partitionBy("doc_id")
            .orderBy("i")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    body = isl.filter(~F.col("stop"))
    phrases = body.groupBy("doc_id", "island").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("i"), F.col("w")))
                ),
                lambda s: s.w,
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    wstats = (
        body.join(phrases.select("doc_id", "island", "plen"),
                  ["doc_id", "island"])
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
    )
    pdistinct = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occur"), F.min("plen").alias("n_words")
    )
    px = pdistinct.select(
        "phrase",
        "n_occur",
        "n_words",
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
    )
    ratio = (
        F.col("deg").cast("double") / F.col("freq")
    ).cast("decimal(28,18)")
    scored = (
        px.join(wstats, "w")
        .groupBy("phrase", "n_occur", "n_words")
        .agg(F.sum(ratio).alias("sc"))
    )
    return (
        scored.select(
            "phrase",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_occur").cast("long").alias("n_occur"),
            F.round(F.col("sc").cast("double"), 6).alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), "phrase")
        .limit(15)
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
    import os

    from xlsx_to_database_spark.queries.sources_sinks import (
        _STAGE_ROOT, _tag,
    )

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
    "tpch_refresh",
    """
    WITH ins AS (
      SELECT o_orderkey + 3000000 AS o_orderkey, o_totalprice
      FROM orders WHERE o_orderkey % 17 = 3
    ), after AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 31 <> 0
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM ins WHERE o_orderkey % 31 <> 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS total_revenue,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM after
    """,
)
def tpch_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H refresh functions RF1/RF2 on the ACID table format — the
    part of the benchmark most engines skip: RF1 INSERTs a batch of new
    orders, RF2 DELETEs a slice of old ones, and the scoreboard query
    must see exactly the post-refresh state. Here both refreshes are
    transactional commits on the txn-log table (`operators/
    txn_table.py`): the insert is a pure append (zero rewrites), the
    delete is copy-on-write confined to stats-intersecting files, and
    the final aggregate reads the latest manifest — while the
    pre-refresh snapshot stays readable (time travel), which is what
    ACID buys over `etl_partition_overwrite`-style rewrites. The
    oracle reconstructs the post-refresh state declaratively."""
    import os
    import shutil

    from xlsx_to_database_spark.operators.txn_table import TxnTable
    from xlsx_to_database_spark.queries.sources_sinks import _tag

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = f"/tmp/spark_stage/{_tag(sf_dir)}_tpch_refresh"
    shutil.rmtree(root, ignore_errors=True)
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(o.repartitionByRange(4, "o_orderkey"))
    # RF1: new sales arrive beyond the current key domain (pure append)
    tt.append(
        o.filter(F.col("o_orderkey") % 17 == 3).withColumn(
            "o_orderkey", F.col("o_orderkey") + 3000000
        )
    )
    # RF2: purge old orders (copy-on-write delete, file-pruned)
    tt.delete_where(F.col("o_orderkey") % 31 == 0)
    return tt.read().agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total_revenue"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


@query(
    "ml_roc_auc",
    """
    WITH b AS (
      SELECT CAST(floor(o_totalprice / 5000) AS BIGINT) AS s,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), cells AS (
      SELECT s, count(*) AS n, sum(y) AS pos FROM b GROUP BY s
    ), tot AS (
      SELECT sum(pos) AS p, sum(n - pos) AS q FROM cells
    ), below AS (
      SELECT s, pos, n,
             coalesce(sum(n - pos) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM cells
    ), auc AS (
      SELECT sum(CAST(pos AS DECIMAL(38,0)) * neg_below) AS conc,
             sum(CAST(pos AS DECIMAL(38,0)) * (n - pos)) AS ties
      FROM below
    ), sweep AS (
      SELECT s,
             sum(pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
               AS tp,
             sum(n - pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
               AS fp
      FROM cells
    ), youden AS (
      SELECT s, tp, fp,
             round(CAST(tp AS DOUBLE) / p - CAST(fp AS DOUBLE) / q, 9) AS j
      FROM sweep CROSS JOIN tot
    )
    SELECT round(CAST((SELECT conc FROM auc) AS DOUBLE)
                 / (CAST(p AS DOUBLE) * CAST(q AS DOUBLE))
                 + 0.5 * CAST((SELECT ties FROM auc) AS DOUBLE)
                 / (CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), 6) AS auc,
           (SELECT CAST(min(s) * 5000 AS BIGINT) FROM youden
            WHERE j = (SELECT max(j) FROM youden)) AS youden_threshold,
           (SELECT max(j) FROM youden) AS youden_j
    FROM tot
    """,
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC + the Youden-optimal operating threshold for a
    score (order value, bucketed to $5k) against a binary outcome
    (final status) — the standard evaluation pair for any scoring
    model, computed WITHOUT sorting individual rows: AUC is the
    Mann–Whitney probability assembled from the score HISTOGRAM
    (concordant mass = Σ pos_bucket × negatives-below via one prefix
    sum; bucket ties get half credit), and the Youden sweep (max
    TPR−FPR) is a reverse prefix sum over the same histogram. Both run
    at histogram scale after one fact aggregate — the decision_stump
    pattern pointed at ranking quality instead of Gini.

    Exact: all masses are integer products in DECIMAL(38,0); AUC and J
    are shared double expressions (J rounded to 9 before the argmax,
    threshold tie-break = smallest score)."""
    # r14 dragnet: the histogram selects, prefix-sum windows and final
    # AUC expression are parsed SQL (identical trees — same
    # DECIMAL(38,0) masses, frames, rounds and casts); the Column-DSL
    # form cost ~1,050 py4j round-trips of plan construction per call.
    o = table(spark, sf_dir, "orders")
    cells = o.selectExpr(
        "CAST(floor(o_totalprice / 5000) AS BIGINT) AS s", "o_orderstatus"
    ).groupBy("s").agg(
        F.expr("count(1) AS n"),
        F.expr("count_if(o_orderstatus = 'F') AS pos"),
    )
    cells = cells.localCheckpoint(eager=True)
    tot = cells.agg(F.expr("sum(pos) AS p"), F.expr("sum(n - pos) AS q"))
    conc_ties = cells.selectExpr(
        "s", "pos", "n",
        "coalesce(sum(n - pos) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED"
        " PRECEDING AND 1 PRECEDING), 0) AS neg_below",
    ).agg(
        F.expr("sum(CAST(pos AS DECIMAL(38,0)) * neg_below) AS conc"),
        F.expr("sum(CAST(pos AS DECIMAL(38,0)) * (n - pos)) AS ties"),
    )
    sweep = cells.selectExpr(
        "s",
        "sum(pos) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW) AS tp",
        "sum(n - pos) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED"
        " PRECEDING AND CURRENT ROW) AS fp",
    )
    youden = sweep.crossJoin(F.broadcast(tot)).selectExpr(
        "s",
        "round(CAST(tp AS DOUBLE) / p - CAST(fp AS DOUBLE) / q, 9) AS j",
    )
    best = youden.orderBy(F.col("j").desc(), "s").limit(1).selectExpr(
        "CAST(s * 5000 AS BIGINT) AS youden_threshold",
        "j AS youden_j",
    )
    return (
        conc_ties.crossJoin(F.broadcast(tot))
        .selectExpr(
            "round(CAST(conc AS DOUBLE)"
            " / (CAST(p AS DOUBLE) * CAST(q AS DOUBLE))"
            " + 0.5D * CAST(ties AS DOUBLE)"
            " / (CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), 6) AS auc"
        )
        .crossJoin(F.broadcast(best))
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


@query(
    "dedup_threshold_sweep",
    """
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, label, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v
    ), pairs AS (
      SELECT round(list_sum(list_transform(generate_series(1, len(a.e)),
                     i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) AS cs
      FROM n a JOIN n b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT CAST(t AS DOUBLE) AS threshold,
           CAST(count(*) FILTER (WHERE cs >= t) AS BIGINT) AS n_dup_pairs
    FROM pairs CROSS JOIN (
      SELECT unnest([CAST(0.5 AS DOUBLE), 0.6, 0.7, 0.8, 0.9]) AS t
    )
    GROUP BY t
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity sweep for embedding dedup — duplicate-pair
    counts at FIVE cosine thresholds from ONE pass over the
    label-blocked candidate pairs (the tuning curve every dedup rollout
    needs before committing to a τ: too low deletes real data, too
    high ships duplicates; re-running the pipeline per candidate τ is
    the naive alternative this op replaces). Pair cosines are computed
    once (rounded 6, the dedup_embedding discipline), then a bounded
    threshold spine cross-joins and counts conditionally — candidate
    generation stays blocked (label equality here; LSH buckets at
    scale), never all-pairs."""
    from xlsx_to_database_spark.operators.dedup import embedding_near_pairs

    e = table(spark, sf_dir, "embeddings")
    pairs = embedding_near_pairs(
        e, block_col="label", threshold=-1.0
    ).select(F.round(F.col("cos_sim"), 6).alias("cs"))
    # literal doubles, NOT 0.5 + i*0.1 arithmetic: the latter lands one
    # ulp above the 0.7 literal the oracle uses, and a pair whose cosine
    # rounds to exactly 0.700000 would then count differently per engine
    spine = spark.createDataFrame(
        [(0.5,), (0.6,), (0.7,), (0.8,), (0.9,)], "threshold double"
    )
    return (
        pairs.crossJoin(F.broadcast(spine))
        .groupBy("threshold")
        .agg(
            F.count_if(F.col("cs") >= F.col("threshold")).alias("n_dup_pairs")
        )
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
    import math

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
    "text_homoglyph_normalize",
    """
    WITH variants AS (
      SELECT doc_id,
             translate(text,
               'аеорсухil|',
               'aeopcyxll!') AS fixed,
             text
      FROM (
        SELECT doc_id,
               CASE doc_id % 3
                 WHEN 0 THEN replace(text, 'a', 'а')
                 WHEN 1 THEN replace(text, 'e', 'е')
                 ELSE replace(text, 'o', 'о')
               END AS text
        FROM documents
      )
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE fixed <> text) AS BIGINT)
             AS n_changed,
           CAST(sum(len(text) - len(replace(fixed, 'a', '') )
                    - (len(text) - len(replace(text, 'a', '')))) AS BIGINT)
             AS net_a_restored
    FROM variants
    """,
)
def text_homoglyph_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homoglyph normalization — map Cyrillic/visual look-alikes
    (а→a, е→e, о→o, р→p, с→c, у→y, х→x, і→i, l-likes) back to ASCII
    via a single translate() pass: the spam/evasion cleanup every
    web-scale text pipeline runs BEFORE dedup and quality scoring,
    because one substituted glyph defeats exact-hash dedup and poisons
    token statistics (which is precisely why spammers do it). The
    staged corpus swaps one vowel per doc for its Cyrillic twin; the
    op must restore every document (counted via the per-char length
    accounting the oracle replays). translate() is map-only codegen —
    a per-byte table lookup, the cheapest possible normalization."""
    d = table(spark, sf_dir, "documents")
    poisoned = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.regexp_replace("text", "a", "а"))
        .when(F.col("doc_id") % 3 == 1,
              F.regexp_replace("text", "e", "е"))
        .otherwise(F.regexp_replace("text", "o", "о"))
        .alias("text"),
    )
    fixed = poisoned.select(
        "doc_id",
        "text",
        F.translate(F.col("text"), "аеорсухil|", "aeopcyxll!").alias("fixed"),
    )
    a_in = lambda c: F.length(c) - F.length(F.regexp_replace(c, "a", ""))  # noqa: E731
    return fixed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("fixed") != F.col("text")).alias("n_changed"),
        F.sum(a_in(F.col("fixed")) - a_in(F.col("text")))
        .cast("long")
        .alias("net_a_restored"),
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


@query(
    "table_restore",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS total
    FROM orders
    """,
)
def table_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy RESTORE on the txn-log table: create (v0 = full
    orders) → delete a slice (v1) → append noise (v2) → RESTORE v0
    (v3) — the "undo the bad deploy" button. The restore commit
    re-references v0's file entries verbatim: no data I/O, O(manifest)
    cost at ANY table size, and v1/v2 stay readable (history is
    append-only; VACUUM, not RESTORE, retires their files). The final
    read must hash-match the ORIGINAL table exactly — proving the
    round-trip through damage and restore is lossless."""
    import os
    import shutil

    from xlsx_to_database_spark.operators.txn_table import TxnTable
    from xlsx_to_database_spark.queries.sources_sinks import _tag

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = f"/tmp/spark_stage/{_tag(sf_dir)}_table_restore"
    shutil.rmtree(root, ignore_errors=True)
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(o.repartitionByRange(4, "o_orderkey"))
    tt.delete_where(F.col("o_orderkey") % 5 == 0)          # the bad deploy
    tt.append(o.limit(7).withColumn("o_orderkey",          # and its noise
                                    F.col("o_orderkey") + 9000000))
    v = tt.restore(0)
    assert tt.manifest(v)["op"] == "restore(0)"
    return tt.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total"),
    )
