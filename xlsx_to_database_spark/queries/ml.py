"""Machine-learning ops: regression, clustering, classifier evaluation
and model-selection curves, built as Spark plans over the sf tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators import global_order as GO
from xlsx_to_database_spark.operators.similarity import (
    _cos_sim_sql,
    _dot_sql,
    _norm_sql,
    _sq_l2_sql,
)
from xlsx_to_database_spark.registry import query


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


_PR_THRESHOLDS = (50000, 100000, 150000, 200000, 250000)


@query(
    "ml_pr_curve",
    f"""
    WITH t AS (
      SELECT unnest(ARRAY{list(_PR_THRESHOLDS)}) AS threshold
    ), c AS (
      SELECT t.threshold,
             CAST(count(*) FILTER (WHERE o_orderpriority IN
               ('1-URGENT', '2-HIGH') AND o_totalprice >= t.threshold)
               AS BIGINT) AS tp,
             CAST(count(*) FILTER (WHERE o_orderpriority NOT IN
               ('1-URGENT', '2-HIGH') AND o_totalprice >= t.threshold)
               AS BIGINT) AS fp,
             CAST(count(*) FILTER (WHERE o_orderpriority IN
               ('1-URGENT', '2-HIGH') AND o_totalprice < t.threshold)
               AS BIGINT) AS fn
      FROM orders CROSS JOIN t GROUP BY t.threshold
    )
    SELECT CAST(threshold AS BIGINT) AS threshold, tp, fp, fn,
           round(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6) AS precision,
           round(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 6) AS recall
    FROM c
    """,
)
def ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall sweep over fixed score thresholds — the
    classifier-eval companion to `ml_roc_auc` (which integrates over ALL
    thresholds; this reports the operating points you'd actually pick).
    Score = order price, label = urgent/high priority.

    Shape: fan the fact table out over the literal threshold axis and
    conditionally count — per-partition aggregate state is |thresholds|
    rows, so map-side combine collapses the 5× explode before the
    shuffle ever sees it: one pass, one metadata-size exchange,
    no global score sort anywhere. That is the property that lets the
    same query run at 100 TB — a rank-based PR curve (sort by score,
    cumulative counts) would need a total order; the fixed-grid sweep
    needs none. Counts are exact integers; the two ratios are the
    identical double expression on both engines."""
    o = table(spark, sf_dir, "orders")
    t = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _PR_THRESHOLDS]))
        .alias("threshold")
    )
    pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    hi = F.col("o_totalprice") >= F.col("threshold")
    c = (
        o.crossJoin(F.broadcast(t))
        .groupBy("threshold")
        .agg(
            F.count_if(pos & hi).alias("tp"),
            F.count_if(~pos & hi).alias("fp"),
            F.count_if(pos & ~hi).alias("fn"),
        )
    )
    return c.select(
        F.col("threshold").cast("long").alias("threshold"), "tp", "fp", "fn",
        F.round(
            F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)),
            6,
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)),
            6,
        ).alias("recall"),
    )


_CV_FOLDS = 5


_CV_THRESHOLDS = (50000, 100000, 150000, 200000, 250000)


@query(
    "ml_kfold_cv",
    f"""
    WITH t AS (
      SELECT unnest(ARRAY{list(_CV_THRESHOLDS)}) AS thr
    ), grid AS (
      SELECT CAST(o_orderkey % {_CV_FOLDS} AS BIGINT) AS fold, t.thr,
             CAST(count(*) FILTER (WHERE
               (o_totalprice >= t.thr) =
               (o_orderpriority IN ('1-URGENT', '2-HIGH')))
               AS BIGINT) AS correct,
             CAST(count(*) AS BIGINT) AS n
      FROM orders CROSS JOIN t GROUP BY 1, 2
    ), tot AS (
      SELECT thr, sum(correct) AS c_all, sum(n) AS n_all FROM grid
      GROUP BY thr
    ), train AS (
      SELECT g.fold, g.thr,
             CAST(t.c_all - g.correct AS BIGINT) AS c_tr,
             CAST(t.n_all - g.n AS BIGINT) AS n_tr,
             g.correct AS c_te, g.n AS n_te,
             row_number() OVER (
               PARTITION BY g.fold
               ORDER BY CAST(t.c_all - g.correct AS DOUBLE)
                        / (t.n_all - g.n) DESC, g.thr
             ) AS rk
      FROM grid g JOIN tot t USING (thr)
    )
    SELECT fold, CAST(thr AS BIGINT) AS best_threshold,
           round(CAST(c_tr AS DOUBLE) / n_tr, 6) AS train_acc,
           round(CAST(c_te AS DOUBLE) / n_te, 6) AS test_acc
    FROM train WHERE rk = 1
    """,
)
def ml_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation of the price→priority threshold stump:
    per fold, pick the training-set-optimal threshold from a fixed
    candidate grid, then report its held-out accuracy — the eval loop
    every model-selection pipeline runs, expressed without any repeated
    data passes.

    The trick that scales: ONE conditional-count pass builds the
    (fold × threshold) accuracy grid ({_CV_FOLDS}×{len(_CV_THRESHOLDS)}
    rows); every fold's *training* counts are then grid arithmetic
    (column totals minus the fold's own row) — leave-one-fold-out for
    K folds costs one scan, not K. Selection and holdout lookup are
    windows over the grid, metadata scale. Folds key on o_orderkey %
    {_CV_FOLDS} (engine-identical, no RNG); ties in training accuracy
    break toward the smaller threshold so the argmax is total."""
    o = table(spark, sf_dir, "orders")
    t = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _CV_THRESHOLDS])).alias("thr")
    )
    pred_eq_label = (
        (F.col("o_totalprice") >= F.col("thr"))
        == F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    grid = (
        o.crossJoin(F.broadcast(t))
        .groupBy(
            (F.col("o_orderkey") % _CV_FOLDS).cast("long").alias("fold"),
            "thr",
        )
        .agg(
            F.count_if(pred_eq_label).alias("correct"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    tot = grid.groupBy("thr").agg(
        F.sum("correct").alias("c_all"), F.sum("n").alias("n_all")
    )
    j = grid.join(tot, "thr").select(
        "fold", "thr",
        (F.col("c_all") - F.col("correct")).cast("long").alias("c_tr"),
        (F.col("n_all") - F.col("n")).cast("long").alias("n_tr"),
        F.col("correct").alias("c_te"), F.col("n").alias("n_te"),
    )
    w = Window.partitionBy("fold").orderBy(
        (F.col("c_tr").cast("double") / F.col("n_tr")).desc(), F.col("thr")
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "fold",
            F.col("thr").cast("long").alias("best_threshold"),
            F.round(F.col("c_tr").cast("double") / F.col("n_tr"), 6)
            .alias("train_acc"),
            F.round(F.col("c_te").cast("double") / F.col("n_te"), 6)
            .alias("test_acc"),
        )
    )


@query(
    "ml_isotonic_calibration",
    """
    WITH ranked AS (
      SELECT o_orderpriority IN ('1-URGENT', '2-HIGH') AS y,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    ), bins AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE y) AS BIGINT) AS k
      FROM ranked GROUP BY decile
    ), pre AS (
      SELECT decile, n, k,
             sum(n) OVER (ORDER BY decile) AS cn,
             sum(k) OVER (ORDER BY decile) AS ck
      FROM bins
    ), intervals AS (
      SELECT lo.decile AS j, hi.decile AS kk,
             CAST(hi.ck - lo.ck + lo.k AS DOUBLE)
               / (hi.cn - lo.cn + lo.n) AS ratio
      FROM pre lo JOIN pre hi ON lo.decile <= hi.decile
    ), inner_min AS (
      SELECT b.decile, iv.j, min(iv.ratio) AS mn
      FROM bins b JOIN intervals iv
        ON iv.j <= b.decile AND iv.kk >= b.decile
      GROUP BY b.decile, iv.j
    )
    SELECT b.decile, b.n, b.k,
           round(CAST(b.k AS DOUBLE) / b.n, 6) AS raw_rate,
           round(max(im.mn), 6) AS calibrated
    FROM bins b JOIN inner_min im ON im.decile = b.decile
    GROUP BY b.decile, b.n, b.k
    """,
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration (pool-adjacent-violators) of the
    price→priority signal over score deciles — the standard fix when a
    model's scores rank well but its probabilities don't: replace each
    bin's raw rate with the best monotone fit. Instead of iterating PAV
    pooling, this uses its CLOSED FORM — cal_i = max_{{j≤i}} min_{{k≥i}}
    mean(y[j..k]) — so the whole fit is three joins over the 10-row bin
    table (≤10³ interval rows, metadata scale) and the result is exact,
    SQL-expressible, and provably monotone (asserted in tests).

    Scale: the only data-size work is the decile assignment (bucketed
    global ntile) and one conditional count per bin; calibration itself
    never sees a data row. The 10-row windows/joins are metadata."""
    o = table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("y"),
    )
    ranked = GO.with_global_ntile(
        o,
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        "o_totalprice",
        10,
        out="decile",
    )
    bins = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.count_if("y").alias("k")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    pre = bins.select(
        "decile", "n", "k",
        F.sum("n").over(w).alias("cn"), F.sum("k").over(w).alias("ck")
    )
    lo, hi = pre.alias("lo"), pre.alias("hi")
    intervals = lo.join(
        hi, F.col("lo.decile") <= F.col("hi.decile")
    ).select(
        F.col("lo.decile").alias("j"), F.col("hi.decile").alias("kk"),
        (
            (F.col("hi.ck") - F.col("lo.ck") + F.col("lo.k")).cast("double")
            / (F.col("hi.cn") - F.col("lo.cn") + F.col("lo.n"))
        ).alias("ratio"),
    )
    inner_min = (
        bins.select("decile")
        .join(
            intervals,
            (F.col("j") <= F.col("decile")) & (F.col("kk") >= F.col("decile")),
        )
        .groupBy("decile", "j")
        .agg(F.min("ratio").alias("mn"))
    )
    return (
        bins.join(inner_min, "decile")
        .groupBy("decile", "n", "k")
        .agg(F.max("mn").alias("cal"))
        .select(
            "decile", "n", "k",
            F.round(F.col("k").cast("double") / F.col("n"), 6)
            .alias("raw_rate"),
            F.round(F.col("cal"), 6).alias("calibrated"),
        )
    )


@query(
    "ml_cluster_purity",
    """
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, label, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v
    ), c AS (
      SELECT vec_id AS c_id, e AS ce, nrm AS cn FROM n
      WHERE vec_id BETWEEN 1 AND 8
    ), sc AS (
      SELECT n.vec_id, n.label, c.c_id,
             round(list_sum(list_transform(generate_series(1, len(e)),
                   i -> e[i] * ce[i])) / (nrm * cn), 6) AS csim
      FROM n, c
    ), asg AS (
      SELECT vec_id, label, c_id AS cell FROM (
        SELECT vec_id, label, c_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, c_id ASC) AS rn
        FROM sc
      ) WHERE rn = 1
    ), cl AS (
      SELECT cell, label, CAST(count(*) AS BIGINT) AS n
      FROM asg GROUP BY cell, label
    )
    SELECT cell, CAST(sum(n) AS BIGINT) AS n_members,
           CAST(max(n) AS BIGINT) AS n_majority,
           round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS purity
    FROM cl GROUP BY cell
    """,
)
def ml_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit: assign every embedding to its nearest of
    8 deterministic centroids (the `sim_ivf_topk` quantizer) and score
    each cell's label PURITY — majority-label share, the first number
    read off any clustering before trusting it downstream (a cell at
    purity 0.3 is a mixture, not a cluster).

    Exactness: assignments rank by ROUNDED cosine with centroid-id
    tie-break (total order, engine-portable — the attested IVF
    device); purity is an integer ratio. Shape: one corpus pass against
    8 broadcast centroids, then two metadata-size aggregates over the
    (cell × label) grid."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    c = e.filter(F.col("vec_id").between(1, 8)).select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("ce")
    )
    sc = e.crossJoin(F.broadcast(c)).select(
        "vec_id", "label", "c_id",
        F.expr(_cos_sim_sql("e", "ce")).alias("csim"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("c_id").asc()
    )
    asg = (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("c_id").alias("cell"))
    )
    cl = asg.groupBy("cell", "label").agg(F.count(F.lit(1)).alias("n"))
    return cl.groupBy("cell").agg(
        F.sum("n").cast("long").alias("n_members"),
        F.max("n").cast("long").alias("n_majority"),
        F.round(F.max("n").cast("double") / F.sum("n"), 6).alias("purity"),
    )


_LC_FRACTIONS = (1, 2, 4, 8)  #: keep 1/f of training data per point


@query(
    "ml_learning_curve",
    f"""
    WITH t AS (SELECT unnest(ARRAY{list(_LC_FRACTIONS)}) AS f)
    SELECT CAST(f AS BIGINT) AS inv_fraction,
           CAST(count(*) FILTER (WHERE o_orderkey % f = 0) AS BIGINT)
             AS n_train,
           round(CAST(count(*) FILTER (WHERE o_orderkey % f = 0
                 AND (o_totalprice >= 150000) =
                     (o_orderpriority IN ('1-URGENT', '2-HIGH')))
                 AS DOUBLE)
                 / count(*) FILTER (WHERE o_orderkey % f = 0), 6)
             AS accuracy
    FROM orders CROSS JOIN t GROUP BY f
    """,
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning-curve scaffold: the fixed threshold stump evaluated on
    nested training subsets of 1/1, 1/2, 1/4, 1/8 of the data
    (deterministic key-mod subsets, so each smaller set is contained in
    the larger — the nesting a proper learning curve needs). The
    flagship use is the SHAPE: accuracy vs data size tells you whether
    to buy more data or a better model. All four points come from ONE
    conditional-count pass (the ml_kfold_cv fan-out device) — a
    learning curve over 100 TB costs one scan, not four."""
    o = table(spark, sf_dir, "orders")
    t = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _LC_FRACTIONS])).alias("f")
    )
    in_train = F.col("o_orderkey") % F.col("f") == 0
    correct = (
        (F.col("o_totalprice") >= 150000)
        == F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return (
        o.crossJoin(F.broadcast(t))
        .groupBy(F.col("f").cast("long").alias("inv_fraction"))
        .agg(
            F.count_if(in_train).alias("n_train"),
            F.round(
                F.count_if(in_train & correct).cast("double")
                / F.count_if(in_train),
                6,
            ).alias("accuracy"),
        )
    )


_COST_FP = 1.0   #: cost of a false alarm


_COST_FN = 8.0   #: cost of a miss


@query(
    "ml_threshold_cost_opt",
    f"""
    WITH t AS (
      SELECT unnest(ARRAY{list(_PR_THRESHOLDS)}) AS threshold
    ), c AS (
      SELECT t.threshold,
             CAST(count(*) FILTER (WHERE o_orderpriority NOT IN
               ('1-URGENT', '2-HIGH') AND o_totalprice >= t.threshold)
               AS BIGINT) AS fp,
             CAST(count(*) FILTER (WHERE o_orderpriority IN
               ('1-URGENT', '2-HIGH') AND o_totalprice < t.threshold)
               AS BIGINT) AS fn
      FROM orders CROSS JOIN t GROUP BY t.threshold
    )
    SELECT CAST(threshold AS BIGINT) AS threshold, fp, fn,
           round(CAST({_COST_FP} * fp + {_COST_FN} * fn AS DOUBLE), 1)
             AS expected_cost,
           threshold = (
             SELECT threshold FROM c
             ORDER BY CAST({_COST_FP} * fp + {_COST_FN} * fn AS DOUBLE),
                      threshold
             LIMIT 1
           ) AS is_optimal
    FROM c
    """,
)
def ml_threshold_cost_opt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive threshold selection: when a miss costs 8× a false
    alarm, the accuracy-optimal threshold is the WRONG one — the
    decision rule must minimize expected cost C_FP·FP + C_FN·FN over
    the operating points (`ml_pr_curve` reports the points; this
    chooses). Same one-pass conditional-count shape; the argmin is a
    total-ordered scan of the 5-row grid."""
    o = table(spark, sf_dir, "orders")
    t = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _PR_THRESHOLDS]))
        .alias("threshold")
    )
    pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    hi = F.col("o_totalprice") >= F.col("threshold")
    c = (
        o.crossJoin(F.broadcast(t))
        .groupBy("threshold")
        .agg(
            F.count_if(~pos & hi).alias("fp"),
            F.count_if(pos & ~hi).alias("fn"),
        )
    )
    cost = _COST_FP * F.col("fp") + _COST_FN * F.col("fn")
    w = Window.orderBy(cost.asc(), F.col("threshold").asc())
    return (
        c.withColumn("rk", F.row_number().over(w))
        .select(
            F.col("threshold").cast("long").alias("threshold"),
            "fp", "fn",
            F.round(cost, 1).alias("expected_cost"),
            (F.col("rk") == 1).alias("is_optimal"),
        )
    )


@query(
    "ml_reg_metrics",
    """
    WITH m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2))
               AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DECIMAL(28,2)) AS sy,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))
                   AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sxy,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_quantity AS DECIMAL(18,2))
                   AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sxx
      FROM lineitem
    ), fit AS (
      SELECT n,
             (n * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
             CAST(sy AS DOUBLE) / n
               - ((n * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (n * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                 * CAST(sx AS DOUBLE) / n AS a
      FROM m
    ), resid AS (
      SELECT f.n AS n, l.l_extendedprice AS y,
             f.a + f.b * l.l_quantity AS yhat,
             CAST(round(abs(l.l_extendedprice
                            - (f.a + f.b * l.l_quantity)), 6)
                  AS DECIMAL(24,6)) AS ae,
             CAST(round(pow(l.l_extendedprice
                            - (f.a + f.b * l.l_quantity), 2), 4)
                  AS DECIMAL(30,4)) AS se,
             CAST(round(pow(l.l_extendedprice
                            - (SELECT CAST(sy AS DOUBLE) / n FROM m), 2), 4)
                  AS DECIMAL(30,4)) AS st
      FROM lineitem l CROSS JOIN fit f
    )
    SELECT max(n) AS n,
           round(CAST(sum(ae) AS DOUBLE) / max(n), 4) AS mae,
           round(sqrt(CAST(sum(se) AS DOUBLE) / max(n)), 4) AS rmse,
           round(1 - CAST(sum(se) AS DOUBLE) / CAST(sum(st) AS DOUBLE), 6)
             AS r2
    FROM resid
    """,
)
def ml_reg_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression evaluation metrics — MAE, RMSE, R² — for the
    quantity→price least-squares line (`stat_linreg` fits it; this
    scores it — and on this generator, which draws the two columns
    independently, the honest score is R² ≈ 0: an eval op must be able
    to report "no signal"), completing the eval family beside the
    classification metrics (`ml_roc_auc`, `ml_pr_curve`). Two passes: exact-decimal
    normal-equation moments, then residual aggregation with every
    per-row error term computed in one shared float expression and
    quantized to decimal before summing — MAE/RMSE/R² are then three
    shared expressions over exact scalars."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    yv = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("decimal(28,2)").alias("sx"),
        F.sum(yv).cast("decimal(28,2)").alias("sy"),
        F.sum((x * yv).cast("decimal(38,4)")).cast("decimal(38,4)")
        .alias("sxy"),
        F.sum((x * x).cast("decimal(38,4)")).cast("decimal(38,4)")
        .alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    b = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    a = sy / nd - b * sx / nd
    fit = m.select(
        "n", b.alias("b"), a.alias("a"), (sy / nd).alias("ybar")
    )
    r = li.crossJoin(F.broadcast(fit))
    err = F.col("l_extendedprice") - (
        F.col("a") + F.col("b") * F.col("l_quantity")
    )
    dev = F.col("l_extendedprice") - F.col("ybar")
    resid = r.select(
        "n",
        F.round(F.abs(err), 6).cast("decimal(24,6)").alias("ae"),
        F.round(F.pow(err, 2), 4).cast("decimal(30,4)").alias("se"),
        F.round(F.pow(dev, 2), 4).cast("decimal(30,4)").alias("st"),
    )
    return resid.agg(
        F.max("n").alias("n"),
        F.round(F.sum("ae").cast("double") / F.max("n"), 4).alias("mae"),
        F.round(
            F.sqrt(F.sum("se").cast("double") / F.max("n")), 4
        ).alias("rmse"),
        F.round(
            1 - F.sum("se").cast("double") / F.sum("st").cast("double"), 6
        ).alias("r2"),
    )
