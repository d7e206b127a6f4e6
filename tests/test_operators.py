"""Unit tests for the LLM-pipeline operator library on tiny literal
DataFrames with hand-computed expectations (SURVEY.md §5.4)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from xlsx_to_database_spark.operators import (
    dedup_exact,
    document_fingerprint,
    jaccard_pairs,
    minhash_lsh_pairs,
    ngram_counts,
    quality_score,
    simhash_pairs,
    tfidf,
    tokenize_stats,
)
from xlsx_to_database_spark.operators.similarity import (
    _cos_sim_sql,
    _dot_sql,
    _norm_sql,
    _sq_l2_sql,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dedup_exact_keeps_lowest_id(spark):
    df = _docs(spark, [(3, "a b", "en"), (1, "a b", "en"), (2, "c d", "en")])
    kept = {r.doc_id for r in dedup_exact(df, ["text"], "doc_id").collect()}
    assert kept == {1, 2}


def test_jaccard_pairs_exact_value(spark):
    # {a,b,c} vs {a,b,d}: |∩|=2, |∪|=4 → 0.5
    df = _docs(spark, [(1, "a b c", "en"), (2, "a b d", "en"), (3, "x y z", "en")])
    rows = jaccard_pairs(df, threshold=0.5).collect()
    assert len(rows) == 1
    assert (rows[0].doc_a, rows[0].doc_b) == (1, 2)
    assert rows[0].jaccard == 0.5


@pytest.mark.slow_battery
def test_jaccard_full_recall_vs_brute_force(spark):
    # token blocking must find every pair with J>0 that brute force finds
    texts = [(i, " ".join(f"w{(i + j) % 7}" for j in range(4)), "en") for i in range(10)]
    df = _docs(spark, texts)
    blocked = {(r.doc_a, r.doc_b) for r in jaccard_pairs(df, threshold=0.3).collect()}
    a = df.select(F.col("doc_id").alias("ia"), F.array_distinct(F.split("text", " ")).alias("ta"))
    b = df.select(F.col("doc_id").alias("ib"), F.array_distinct(F.split("text", " ")).alias("tb"))
    brute = {
        (r.ia, r.ib)
        for r in a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .withColumn(
            "j",
            F.size(F.array_intersect("ta", "tb")) / F.size(F.array_union("ta", "tb")),
        )
        .filter(F.round(F.col("j"), 6) >= 0.3)
        .collect()
    }
    assert blocked == brute


def test_jaccard_prefix_blocking_subquadratic_on_common_token(spark):
    # Every doc shares the token "common"; naive token blocking would
    # generate all C(60,2)=1770 pairs. Prefix filtering sorts "common"
    # (df=60) to each doc's suffix, so it never becomes a blocking key
    # and only the rare-token collisions survive as candidates.
    from xlsx_to_database_spark.operators.dedup import (
        _token_sets,
        jaccard_prefix_candidates,
    )

    rows = [(i, f"common u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h", "en") for i in range(60)]
    df = _docs(spark, rows)
    toks = _token_sets(df, "doc_id", "text")
    n_cand = jaccard_prefix_candidates(toks, threshold=0.9).count()
    assert n_cand == 0  # all-unique suffixes: no rare token is shared
    # And recall still holds: two genuine near-dups are found.
    rows[1] = (1, rows[0][1] + " extra", "en")
    df2 = _docs(spark, rows)
    pairs = {(r.doc_a, r.doc_b) for r in jaccard_pairs(df2, threshold=0.8).collect()}
    assert (0, 1) in pairs


def test_minhash_identical_docs_always_candidates(spark):
    df = _docs(
        spark,
        [(1, "a b c d e f", "en"), (2, "a b c d e f", "en"), (3, "q r s t u v", "en")],
    )
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs  # identical shingle sets share every band
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_identical_token_sets_zero_hamming(spark):
    df = _docs(spark, [(1, "a b c d", "en"), (2, "b a d c", "en"), (3, "p q r s", "en")])
    rows = simhash_pairs(df, max_hamming=0).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == {(1, 2)}  # order-insensitive fingerprint
    assert rows[0].hamming == 0


def test_cosine_sim_known_vectors(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0]), ([1.0, 0.0], [1.0, 1.0])],
        "a array<float>, b array<float>",
    )
    got = [r.c for r in df.select(F.expr(_cos_sim_sql("a", "b")).alias("c")).collect()]
    assert got[0] == 0.0
    assert got[1] == 1.0
    assert abs(got[2] - round(1 / math.sqrt(2), 6)) < 1e-9

    # The dot, norm and squared-L2 kernels are sequential left-to-right
    # float64 folds from 0.0: bit-equal to the same fold in Python, for
    # column and literal operands alike. [1e16, 1, -1e16] tells the
    # order apart (a pairwise or reordered sum keeps the 1).
    import random

    rng = random.Random(7)
    rows = [([1e16, 1.0, -1e16], [1.0, 1.0, 1.0]), ([3.0, 4.0], [0.5, -2.0])]
    rows += [
        ([rng.uniform(-1, 1) for _ in range(64)],
         [rng.uniform(-1, 1) for _ in range(64)])
        for _ in range(20)
    ]
    lit = rows[5][1]
    vd = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = vd.selectExpr(
        "a", "b",
        f"{_dot_sql('a', 'b')} AS dot",
        f"{_norm_sql('a')} AS norm",
        f"{_sq_l2_sql('a', 'b')} AS l2",
        f"{_dot_sql('a', lit)} AS dot_lit",
        f"{_sq_l2_sql('a', lit)} AS l2_lit",
    ).collect()

    def fold(terms):
        acc = 0.0
        for t in terms:
            acc += t
        return acc

    for r in got:
        a, b = list(r.a), list(r.b)
        assert r.dot == fold(x * y for x, y in zip(a, b)), a
        assert r.norm == math.sqrt(fold(x * x for x in a)), a
        assert r.l2 == fold((x - y) * (x - y) for x, y in zip(a, b)), a
        if len(a) == len(lit):
            assert r.dot_lit == fold(x * y for x, y in zip(a, lit)), a
            assert r.l2_lit == fold((x - y) * (x - y) for x, y in zip(a, lit)), a
    assert got[0].dot == 0.0  # 1e16 + 1 rounds to 1e16 before the -1e16


def test_tfidf_hand_computed(spark):
    # 'x' appears in 1 of 2 docs once → tfidf = 1·ln(2)
    df = _docs(spark, [(1, "x y", "en"), (2, "y z", "en")])
    rows = {(r.term, r.doc_id): r.tfidf for r in tfidf(df).collect()}
    assert rows[("x", 1)] == round(math.log(2), 6)
    assert rows[("y", 1)] == 0.0  # df == N → idf 0


def test_ngrams_and_short_doc_guard(spark):
    df = _docs(spark, [(1, "a b c", "en"), (2, "solo", "en")])
    got = {r.ngram: r.cnt for r in ngram_counts(df, n=2).collect()}
    assert got == {"a b": 1, "b c": 1}  # 1-token doc contributes nothing


def test_tokenize_and_quality(spark):
    df = _docs(spark, [(1, "the cat the cat", "en")])
    t = tokenize_stats(df).collect()[0]
    assert (t.n_tokens, t.n_uniq, t.n_stop) == (4, 2, 2)
    q = quality_score(df).collect()[0]
    assert q.diversity == 0.5 and q.stop_ratio == 0.5 and q.quality == 0.25


def test_fingerprint_deterministic_and_distinct(spark):
    df = _docs(spark, [(1, "a b", "en"), (2, "a b", "en"), (3, "b a", "en")])
    rows = {r.doc_id: (r.md5_fp, r.rolling_fp) for r in document_fingerprint(df).collect()}
    assert rows[1] == rows[2]  # same text → same fingerprints
    assert rows[1][1] != rows[3][1]  # rolling hash is order-sensitive


def test_lsh_topk_is_bucket_restricted_brute_force(spark):
    from xlsx_to_database_spark.operators.similarity import (
        cosine_topk,
        lsh_bucket,
        lsh_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))

    buckets = e.select("vec_id", lsh_bucket(F.col("embedding"), 4).alias("b"))
    rows = buckets.collect()
    # Deterministic: recomputation yields identical bucket ids.
    assert {r.vec_id: r.b for r in buckets.collect()} == {r.vec_id: r.b for r in rows}
    # Buckets land in [0, 16) and are reasonably spread.
    assert all(0 <= r.b < 16 for r in rows)
    assert len({r.b for r in rows}) >= 4

    # LSH top-k scores == brute-force scores restricted to the query's bucket.
    qb = {r.vec_id: r.b for r in rows}[0]
    in_bucket = {r.vec_id for r in rows if r.b == qb}
    approx = lsh_topk(e, qv, k=10, n_planes=4).collect()
    assert all(r.vec_id in in_bucket for r in approx)
    brute = {r.vec_id: r.cos_sim for r in cosine_topk(e, qv, k=len(rows)).collect()}
    assert all(abs(brute[r.vec_id] - r.cos_sim) < 1e-9 for r in approx)
    # The query itself shares its own bucket → always returned, cos = 1.
    assert approx[0].vec_id == 0 and approx[0].cos_sim == 1.0


def test_salted_join_equals_plain_join(spark):
    from xlsx_to_database_spark.operators.skew import salted_join

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(sf + "/lineitem.parquet")
    o = spark.read.parquet(sf + "/orders.parquet").select("o_orderkey", "o_totalprice")
    plain = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_totalprice"
    )
    salted = salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=4).select(
        "l_orderkey", "l_linenumber", "o_totalprice"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # salt column must not leak into the output
    assert "__salt" not in salted.columns


def test_approx_percentile_close_to_exact(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    both = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.9).alias("exact"),
        F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(10000)).alias("approx"),
    )
    for r in both.collect():
        assert abs(r.approx - r.exact) / r.exact < 0.01, r


@pytest.mark.slow_battery
def test_ivf_topk_full_probe_equals_brute_force(spark):
    from xlsx_to_database_spark.operators.similarity import cosine_topk, ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))

    # Probing every cell makes IVF exhaustive: must equal brute force.
    full = ivf_topk(e, k=10, n_centroids=8, nprobe=8).collect()
    brute = cosine_topk(e, qv, k=10).collect()
    assert [(r.vec_id, r.cos_sim) for r in full] == [
        (r.vec_id, r.cos_sim) for r in brute
    ]

    # nprobe < cells returns a subset of vectors, correctly scored.
    part = ivf_topk(e, k=10, n_centroids=8, nprobe=2).collect()
    all_scores = {r.vec_id: r.cos_sim for r in cosine_topk(e, qv, k=10**9).collect()}
    assert 0 < len(part) <= 10
    assert all(abs(all_scores[r.vec_id] - r.cos_sim) < 1e-9 for r in part)


def test_ivf_matrix_assignment_agrees_with_literal_path(spark):
    # Round-10 verdict #4: the broadcast-matrix assignment must agree
    # EXACTLY with the literal-codegen path on the registered op's
    # configuration (8 centroids, real embeddings) — per-vector cell
    # AND the final top-k output.
    from xlsx_to_database_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_matrix,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lit = ivf_topk(e, k=10, n_centroids=8, nprobe=2).collect()
    mat = ivf_topk_matrix(e, k=10, n_centroids=8, nprobe=2).collect()
    assert [(r.vec_id, r.cos_sim) for r in lit] == [
        (r.vec_id, r.cos_sim) for r in mat
    ]


def test_ivf_matrix_assignment_at_1k_centroids(spark):
    # The regime the literal path cannot reach: 1,024 centroids. The
    # Spark matrix assignment must match a pure-numpy reference
    # (identical math: round(dot/(|x||c|), 6), first-max tie-break)
    # on every vector.
    import numpy as np

    from xlsx_to_database_spark.operators.similarity import (
        ivf_assign_matrix,
    )

    rng = np.random.RandomState(7)
    C, d, n = 1024, 16, 3000
    cents_m = rng.standard_normal((C, d))
    cents = [
        (cid + 1, [float(x) for x in cents_m[cid]]) for cid in range(C)
    ]
    X = rng.standard_normal((n, d))
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(8)

    got = {
        r.vec_id: r.cell
        for r in ivf_assign_matrix(df, cents).collect()
    }
    M = np.array([v for _, v in cents])
    ids = np.array([c for c, _ in cents])
    sims = np.round(
        (X @ M.T)
        / np.outer(np.linalg.norm(X, axis=1), np.linalg.norm(M, axis=1)),
        6,
    )
    want = ids[np.argmax(sims, axis=1)]
    assert got == {i: int(want[i]) for i in range(n)}


def test_ivf_matrix_zero_norm_centroid_is_inert(spark):
    # Round-11 ADVICE #4: an unclamped zero-norm centroid made every
    # similarity in its column NaN, and np.argmax then assigned EVERY
    # row in the batch to it. With the clamp its similarity is ~0, so
    # a vector aligned with a real centroid must assign there, and
    # only a true zero vector (sim 0 everywhere, first-max tie-break)
    # falls into the degenerate cell.
    from xlsx_to_database_spark.operators.similarity import (
        ivf_assign_matrix,
    )

    cents = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 2.0]), (12, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.cell for r in ivf_assign_matrix(df, cents).collect()}
    assert got == {10: 1, 11: 2, 12: 0}
    # The underflow case the first clamp (1e-300) missed: a zero-norm
    # ROW against a zero-norm centroid NOT at index 0. 1e-300*1e-300
    # underflows to 0.0 → NaN → argmax would pick the NaN column (the
    # degenerate centroid, id 2); the 1e-150 clamp keeps the product a
    # normal double, so every similarity is 0.0 and the zero row
    # tie-breaks to the SMALLEST centroid id instead.
    cents2 = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0])]
    got2 = {
        r.vec_id: r.cell
        for r in ivf_assign_matrix(
            spark.createDataFrame(
                [(20, [0.0, 0.0])], "vec_id long, embedding array<double>"
            ),
            cents2,
        ).collect()
    }
    assert got2 == {20: 0}
    # And the registered configuration (the one the oracle attests)
    # contains no zero-norm centroid — the no-reopen argument for the
    # clamp rests on the clamp being the identity there.
    import numpy as np

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for r in e.filter(F.col("vec_id").between(1, 8)).collect():
        assert np.linalg.norm([float(x) for x in r.embedding]) > 0


def test_pq_encode_codebook_self_distortion_zero(spark):
    # Each codebook vector IS its own nearest codeword in every
    # subspace: codes = own id, distortion exactly 0. And ADC of the
    # query's own row through the codes must lower-bound nothing
    # weird: adc_dist(vec 0) equals the sum of its per-subspace
    # nearest-codeword distances, which is its encode distortion.
    from xlsx_to_database_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    enc = {r.vec_id: r for r in pq_encode(e).collect()}
    for cid in range(1, 9):
        r = enc[cid]
        assert (r.c0, r.c1, r.c2, r.c3) == (cid, cid, cid, cid)
        assert r.distortion == 0.0
    adc = {r.vec_id: r.adc_dist for r in pq_adc_topk(e, k=10**9).collect()}
    assert abs(adc[0] - enc[0].distortion) < 1e-6
    # codewords' ADC distance equals the query's table entry sums —
    # spot-check monotonicity: the globally nearest ADC row must be
    # among the true top-20 exact neighbors (PQ is approximate).
    assert len(adc) == e.count()


def test_pq_trained_codebook_lowers_distortion(spark):
    # Round-11 verdict #3b: a trained codebook is what makes PQ
    # distortion meaningful — after one Lloyd's round the TOTAL
    # quantization distortion must be measurably below the positional
    # stand-in's (Lloyd's update is the distortion-minimizing step by
    # construction; on this corpus the drop is large, assert ≥10%).
    from pyspark.sql import functions as F
    from xlsx_to_database_spark.operators.similarity import (
        pq_encode,
        pq_train_codebook,
    )

    e = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: F.round(x.cast("double"), 4)
        ).alias("embedding"),
    )
    base = pq_encode(e).agg(F.sum("distortion")).collect()[0][0]
    cb = pq_train_codebook(e)
    trained = (
        pq_encode(e, codebook=cb).agg(F.sum("distortion")).collect()[0][0]
    )
    assert trained < 0.9 * base, (base, trained)


def test_residual_pq_distortion_band(spark):
    # Residual PQ's distortion advantage is a property of CLUSTERED
    # data; on this near-uniform synthetic corpus it measured ~1.24x
    # the plain trained distortion (524 vs 422, sf0.001). Pin a band,
    # not a direction: a drift outside [0.5x, 2x] means the residual
    # pipeline (assignment/subtraction/init/training) broke, while the
    # sign of the gap is the data's business.
    from pyspark.sql import functions as F
    from xlsx_to_database_spark.operators.similarity import (
        ivf_assign_matrix,
        pq_encode,
        pq_train_codebook,
    )

    e = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: F.round(x.cast("double"), 4)
        ).alias("embedding"),
    )
    plain = (
        pq_encode(e, codebook=pq_train_codebook(e))
        .agg(F.sum("distortion")).collect()[0][0]
    )
    cents = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in e.filter(F.col("vec_id").between(1, 8)).collect()
    )
    cmap = F.create_map(
        *[
            x
            for cid, cv in cents
            for x in (F.lit(cid), F.array(*[F.lit(v) for v in cv]))
        ]
    )
    res = ivf_assign_matrix(e, cents).select(
        "vec_id",
        F.transform(
            F.zip_with(
                F.col("embedding"), F.element_at(cmap, F.col("cell")),
                lambda a, b: a - b,
            ),
            lambda x: F.round(x, 4),
        ).alias("rvec"),
    )
    init_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in res.filter(F.col("vec_id").between(9, 16))
        .select("vec_id", "rvec").collect()
    )
    init_cb = {
        s: [(cid, rv[s * 16:(s + 1) * 16]) for cid, rv in init_rows]
        for s in range(4)
    }
    rcb = pq_train_codebook(res, vec_col="rvec", init=init_cb)
    resid = (
        pq_encode(res, vec_col="rvec", codebook=rcb)
        .agg(F.sum("distortion")).collect()[0][0]
    )
    assert 0.5 * plain < resid < 2.0 * plain, (plain, resid)


def test_ivfpq_is_adc_restricted_to_probed_cells(spark):
    # The composition contract: ivfpq_topk == pq_adc_topk swept over
    # exactly the vectors whose IVF cell is among the query's probe
    # cells — nothing else pruned, nothing else added.
    from pyspark.sql import functions as F
    from xlsx_to_database_spark.operators.similarity import (
        ivf_assign_matrix,
        ivfpq_topk,
        pq_adc_topk,
        pq_train_codebook,
    )

    e = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: F.round(x.cast("double"), 4)
        ).alias("embedding"),
    )
    cb = pq_train_codebook(e)
    got = [
        (r.vec_id, r.adc_dist)
        for r in ivfpq_topk(e, k=10, codebook=cb).collect()
    ]
    # reference: assign cells, compute the query's probe set from the
    # full ADC machinery, filter, rank corpus-wide ADC to those cells
    cents = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in e.filter(F.col("vec_id").between(1, 8)).collect()
    )
    cells = {
        r.vec_id: r.cell
        for r in ivf_assign_matrix(e, cents).collect()
    }
    import numpy as np

    q = np.array(
        e.filter(F.col("vec_id") == 0).collect()[0].embedding
    )
    sims = sorted(
        (
            -round(
                float(np.dot(q, c) / (np.linalg.norm(q) * np.linalg.norm(c))),
                6,
            ),
            cid,
        )
        for cid, c in ((cid, np.array(v)) for cid, v in cents)
    )
    probe = {cid for _, cid in sims[:2]}
    full_adc = {
        r.vec_id: r.adc_dist
        for r in pq_adc_topk(e, k=10**9, codebook=cb).collect()
    }
    want = sorted(
        ((d, vid) for vid, d in full_adc.items() if cells[vid] in probe),
    )[:10]
    assert got == [(vid, d) for d, vid in want]


def test_hll_sketch_estimates_within_tolerance(spark):
    from pyspark.sql import functions as F
    from xlsx_to_database_spark.registry import all_queries

    est = {
        r.l_returnflag: r.approx_orders
        for r in all_queries()["agg_hll_sketch"](spark, "/root/testdata/sf0.01").collect()
    }
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    exact["ALL"] = li.select("l_orderkey").distinct().count()
    for k, true_n in exact.items():
        assert abs(est[k] - true_n) / true_n < 0.02, (k, est[k], true_n)
    # merged-sketch estimate must NOT be the sum of the group estimates
    # (orders span return flags): merging dedupes across groups.
    assert est["ALL"] < sum(v for k, v in est.items() if k != "ALL")


def test_bpe_token_count_matches_python_regex(spark):
    import re
    from xlsx_to_database_spark.operators.text import BPE_PATTERN, token_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {r.doc_id: r for r in token_counts(docs).collect()}
    for row in docs.select("doc_id", "text").collect():
        toks = re.findall(BPE_PATTERN, row.text)
        assert got[row.doc_id].n_bpe_tokens == len(toks), row.doc_id
        assert got[row.doc_id].n_ws_tokens == len(row.text.split()), row.doc_id


def test_clustered_sink_files_have_disjoint_key_ranges(spark):
    import glob
    import pyarrow.parquet as pq
    from xlsx_to_database_spark.registry import all_queries

    all_queries()["parquet_clustered_sink"](spark, "/root/testdata/sf0.01").count()
    files = sorted(glob.glob("/tmp/spark_stage/sf0.01_orders_clustered/part-*.parquet"))
    assert len(files) >= 2, files
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "o_orderdate"
        )
        stats = [md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    # range-partitioned: file key ranges must not overlap → footer-only
    # file pruning works for any o_orderdate predicate.
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, ranges


def test_stratified_sample_rates_and_determinism(spark):
    from xlsx_to_database_spark.registry import all_queries

    q = all_queries()["sample_stratified"]
    a = q(spark, "/root/testdata/sf0.01")
    got = {r.l_returnflag: r.n for r in a.groupBy("l_returnflag").count().withColumnRenamed("count", "n").collect()}
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    tot = {r.l_returnflag: r.n for r in li.groupBy("l_returnflag").count().withColumnRenamed("count", "n").collect()}
    target = {"A": 0.1, "N": 0.02, "R": 0.1}
    for k, frac in target.items():
        rate = got.get(k, 0) / tot[k]
        assert abs(rate - frac) / frac < 0.25, (k, rate, frac)
    # seeded: a second run returns the identical row set
    b = q(spark, "/root/testdata/sf0.01")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_connected_components_labels_min_id(spark):
    from xlsx_to_database_spark.operators.dedup import connected_components

    # Components: {1,2,3} (path), {4,5} (edge), {6} (singleton),
    # {7,8,9,10} (triangle + pendant).
    nodes = spark.createDataFrame([(i,) for i in range(1, 11)], "node long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (7, 8), (8, 9), (7, 9), (9, 10)],
        "src long, dst long",
    )
    got = {r.node: r.cluster_id for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 7, 8: 7, 9: 7, 10: 7}


def test_seq_pack_chunk_spans(spark):
    """3 docs of 300 tokens each, budget 512: doc0 [0,300) chunk 0,
    doc1 [300,600) straddles chunks 0-1, doc2 [600,900) chunk 1."""
    from xlsx_to_database_spark.queries.corpus_ops import PACK_BUDGET

    assert PACK_BUDGET == 512
    import xlsx_to_database_spark.queries.corpus_ops as co
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * 300), "en", "s0", 600) for i in range(3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # Route the registered query through a temp view-free path: call the
    # same expressions via a monkey-level table stub.
    orig = co.table
    co.table = lambda spark, sf_dir, name: df
    try:
        rows = {r.doc_id: r for r in co.seq_pack(spark, "unused").collect()}
    finally:
        co.table = orig
    assert (rows[0].first_chunk, rows[0].last_chunk, rows[0].n_chunks) == (0, 0, 1)
    assert (rows[1].first_chunk, rows[1].last_chunk, rows[1].n_chunks) == (0, 1, 2)
    assert (rows[2].first_chunk, rows[2].last_chunk, rows[2].n_chunks) == (1, 1, 1)
    assert rows[2].start_off == 600


def test_vec_quantize_bounds(spark):
    """Symmetric int8: the max-|x| element quantizes to exactly ±127 and
    every q stays within [-127, 127]."""
    import xlsx_to_database_spark.queries.corpus_ops as co

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [2.0, 1.0, -0.125])],
        "vec_id long, embedding array<float>",
    )
    orig = co.table
    co.table = lambda spark, sf_dir, name: df
    try:
        rows = {r.vec_id: r for r in co.vec_quantize_int8(spark, "unused").collect()}
    finally:
        co.table = orig
    assert rows[1].q_min == -127  # the -1.0 element at scale 127/1.0
    assert rows[2].q_max == 127  # the 2.0 element at scale 127/2.0
    for r in rows.values():
        assert -127 <= r.q_min <= r.q_max <= 127
        assert r.recon_err >= 0.0


def test_pca_projection_invariants(spark):
    """vec_pca_project has no SQL oracle; assert the linear-algebra
    invariants instead: component variances are non-increasing and the
    projected components are (near-)uncorrelated."""
    import numpy as np
    from xlsx_to_database_spark.registry import all_queries

    df = all_queries()["vec_pca_project"](spark, "/root/testdata/sf0.01")
    pdf = df.toPandas().sort_values("vec_id")
    comps = pdf[[c for c in pdf.columns if c.startswith("pc")]].to_numpy()
    var = comps.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(len(var) - 1)), var
    cc = np.corrcoef(comps.T)
    off = cc - np.diag(np.diag(cc))
    assert np.abs(off).max() < 0.05, np.abs(off).max()


def test_compact_files_counts(spark):
    import glob
    from xlsx_to_database_spark.registry import all_queries

    all_queries()["etl_compact_files"](spark, "/root/testdata/sf0.01").count()
    assert len(glob.glob("/tmp/spark_stage/sf0.01_events_fragmented/part-*.parquet")) == 64
    assert len(glob.glob("/tmp/spark_stage/sf0.01_events_compacted/part-*.parquet")) == 4


def test_minhash_recall_vs_exact_shingle_jaccard(spark, sf_dir):
    """Bound the rows-only LSH op with the exact oracle we already have
    (round-3 verdict #3): every pair whose TRIGRAM-SHINGLE Jaccard —
    the measure MinHash actually estimates; token-set Jaccard is a
    different op (`jaccard_pairs`) — clears the high-sim bar must appear
    in the banded candidate set. With 4 bands of 4 hashes a J=0.9 pair
    is caught with p = 1-(1-0.9^4)^4 ≈ 0.986, and the fixed xxhash64
    seeds make the outcome deterministic for fixed testdata, so the
    asserted floor holds with slack."""
    from xlsx_to_database_spark.catalog import table

    docs = table(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "text").collect()

    def shingles(text: str, n: int = 3) -> set[str]:
        t = text.split(" ")
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    sh = {r["doc_id"]: shingles(r["text"]) for r in rows}
    ids = sorted(sh)
    exact = set()
    for i, a in enumerate(ids):
        sa = sh[a]
        for b in ids[i + 1 :]:
            sb = sh[b]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter / (len(sa) + len(sb) - inter) >= 0.9:
                exact.add((a, b))
    cand = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert exact, "testdata lost its near-dup cluster — recall test is vacuous"
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.95, f"minhash band recall {recall:.3f} over {len(exact)} pairs"


def test_simhash_pigeonhole_completeness(spark, sf_dir):
    """simhash_pairs must find EVERY pair within Hamming distance 3:
    with 4 chunks of 16 bits, < 4 differing bits leave at least one
    chunk identical (pigeonhole), so chunk-banding has exact recall —
    verified against a driver-side brute force over the collected
    64-bit fingerprints (hamming values compared too, not just the
    pair set)."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.operators.dedup import simhash64

    docs = table(spark, sf_dir, "documents")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(docs).collect()
    }
    sh = {
        r["doc"]: r["sh"]
        for r in docs.select(
            F.col("doc_id").alias("doc"), simhash64("text").alias("sh")
        ).collect()
    }
    ids = sorted(sh)
    brute = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((sh[a] ^ sh[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= 3:
                brute[(a, b)] = h
    assert brute, "testdata lost its near-dup cluster — completeness test is vacuous"
    assert got == brute


def test_jaccard_join_equals_filtered_self_join(spark, sf_dir):
    """The asymmetric R-S near-dup join must report exactly the
    self-join's pairs restricted to (batch, corpus) sides — same
    threshold, same Jaccard values (the prefix order differs between
    the two runs, which must not matter: prefixes affect candidates,
    never the verified result)."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.operators.dedup import jaccard_join

    d = table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 20 == 0)
    corpus = d.filter(F.col("doc_id") % 20 != 0)
    got = {
        (r["doc_l"], r["doc_r"]): r["jaccard"]
        for r in jaccard_join(batch, corpus, threshold=0.9).collect()
    }
    want = {}
    for r in jaccard_pairs(d, threshold=0.9).collect():
        a_in = r["doc_a"] % 20 == 0
        b_in = r["doc_b"] % 20 == 0
        if a_in and not b_in:
            want[(r["doc_a"], r["doc_b"])] = r["jaccard"]
        elif b_in and not a_in:
            want[(r["doc_b"], r["doc_a"])] = r["jaccard"]
    assert got == want and got


def test_zorder_sink_two_dimensional_locality(spark):
    """Z-ordered files must have NARROW min/max spans on BOTH clustering
    dimensions — the property 1-D range clustering cannot give (it
    yields ~perfect spans on its key and ~full-range spans on every
    other column). With 16 files over a 2-D Morton layout the ideal
    per-file span is ~1/4 of each dimension; assert both stay under
    0.55 with slack for quantization edges."""
    import glob

    import pyarrow.parquet as pq

    from xlsx_to_database_spark.registry import all_queries

    all_queries()["parquet_zorder_sink"](spark, "/root/testdata/sf0.01").count()
    files = sorted(glob.glob("/tmp/spark_stage/sf0.01_orders_zorder/part-*.parquet"))
    assert len(files) >= 8, files
    for col in ("o_custkey", "o_orderdate"):
        ranges = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            ss = [md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)]
            ranges.append((min(s.min for s in ss), max(s.max for s in ss)))
        glo = max(hi for _, hi in ranges) - min(lo for lo, _ in ranges)
        spans = [hi - lo for lo, hi in ranges]
        mean = sum(spans, spans[0] - spans[0]) / len(spans)
        assert mean / glo < 0.55, (col, mean, glo)


# ---------------------------------------------------------------------------
# Round-5 ops: containment, chunking, grid radius join
# ---------------------------------------------------------------------------


@pytest.mark.slow_battery
def test_containment_directional_vs_brute_force(spark):
    from xlsx_to_database_spark.operators.dedup import containment_pairs

    # doc 1 is a verbatim quote inside doc 2 (J ~ 0.4, C(1->2) = 1.0);
    # doc 3 shares tokens but not shingles with doc 1.
    rows = [
        (1, "the quick brown fox jumps", "en"),
        (2, "intro words here the quick brown fox jumps and more trailing text", "en"),
        (3, "fox brown quick the jumps", "en"),
    ]
    df = _docs(spark, rows)
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(df, threshold=0.9).collect()
    }
    assert got == {(1, 2): 1.0}  # directional: (2,1) does NOT qualify

    # Full recall vs brute force at a lower threshold over sliding dups.
    texts = [
        (i, " ".join(f"w{(i * 3 + j) % 11}" for j in range(6)), "en")
        for i in range(12)
    ]
    df2 = _docs(spark, texts)
    blocked = {
        (r.doc_a, r.doc_b)
        for r in containment_pairs(df2, threshold=0.5).collect()
    }
    sh = df2.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, size(split(text,' '))-2),"
                " i -> array_join(slice(split(text,' '), i, 3), ' '))"
            )
        ).alias("sh"),
    )
    a = sh.select(F.col("doc_id").alias("ia"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("ib"), F.col("sh").alias("sb"))
    brute = {
        (r.ia, r.ib)
        for r in a.crossJoin(b)
        .filter(F.col("ia") != F.col("ib"))
        .withColumn(
            "c",
            F.round(
                F.size(F.array_intersect("sa", "sb")) / F.size("sa"), 6
            ),
        )
        .filter(F.col("c") >= 0.5)
        .collect()
    }
    assert blocked == brute


def test_chunk_split_covers_every_token_with_overlap(spark, sf_dir):
    from xlsx_to_database_spark.queries.corpus_ops import text_chunk_split

    rows = text_chunk_split(spark, sf_dir).collect()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.split("text", " ").alias("t"))
        .collect()
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d in docs:
        chunks = sorted(by_doc[d.doc_id], key=lambda r: r.chunk_id)
        n = len(d.t)
        # chunk i starts at token i*16; union covers all n tokens exactly
        assert chunks[0].chunk.split(" ")[0] == d.t[0]
        covered = set()
        for c in chunks:
            start = c.chunk_id * 16
            toks = c.chunk.split(" ")
            assert toks == d.t[start : start + 32]
            assert c.n_tok == len(toks) <= 32
            covered.update(range(start, start + len(toks)))
        assert covered == set(range(n))


def test_grid_radius_equals_brute_force(spark):
    from xlsx_to_database_spark.queries.joins import join_grid_radius

    # brute force over the real table at sf0.001
    sf = "/root/testdata/sf0.001"
    got = {(r.id_a, r.id_b) for r in join_grid_radius(spark, sf).collect()}
    pts = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .select(
            "vec_id",
            F.col("embedding").getItem(0).cast("double").alias("x"),
            F.col("embedding").getItem(1).cast("double").alias("y"),
        )
    )
    a = pts.select(F.col("vec_id").alias("ia"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = pts.select(F.col("vec_id").alias("ib"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    brute = {
        (r.ia, r.ib)
        for r in a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .withColumn(
            "d",
            F.round(
                F.sqrt(
                    F.pow(F.col("xa") - F.col("xb"), 2)
                    + F.pow(F.col("ya") - F.col("yb"), 2)
                ),
                6,
            ),
        )
        .filter(F.col("d") <= 0.02)
        .collect()
    }
    assert got == brute and len(got) > 0


def test_mann_whitney_matches_hand_computed_u(spark, tmp_path):
    # A = {1, 2, 4}, B = {3, 3, 5}: ranks 1,2,4.5(A) / 3.5?... computed
    # properly: sorted [1,2,3,3,4,5] -> ranks 1,2,3.5,3.5,5,6.
    # R_A = 1 + 2 + 5 = 8, U = 8 - 3*4/2 = 2.
    import os

    from xlsx_to_database_spark.queries.stats import stat_mann_whitney

    d = str(tmp_path / "mw")
    os.makedirs(d)
    spark.createDataFrame(
        [(1.0, "1-URGENT"), (2.0, "1-URGENT"), (4.0, "1-URGENT"),
         (3.0, "5-LOW"), (3.0, "5-LOW"), (5.0, "5-LOW")],
        "o_totalprice double, o_orderpriority string",
    ).write.parquet(os.path.join(d, "orders.parquet"))
    r = stat_mann_whitney(spark, d).collect()[0]
    assert (r.n_a, r.n_b, r.u_stat) == (3, 3, 2.0)
    # z = (U - 4.5) / sqrt(3*3/12 * (7 - (2^3-2)/(6*5))) = -2.5/sqrt(5.1)
    import math

    assert abs(r.z - round(-2.5 / math.sqrt(9 / 12 * (7 - 6 / 30)), 6)) < 1e-9


def test_align_to_schema_mapping_rules(spark):
    import pytest as _pytest
    from pyspark.sql.types import StructType

    from xlsx_to_database_spark.sources.infer import align_to_schema

    df = spark.createDataFrame(
        [(1, "x", 9, "drop me")],
        "`Nation Key` long, `NAME ` string, `region-key` long, `Loaded By` string",
    )
    target = StructType.fromDDL(
        "n_nationkey bigint, n_name string, n_regionkey int, n_comment string"
    )
    out = align_to_schema(df, target, prefix="n_")
    assert out.columns == ["n_nationkey", "n_name", "n_regionkey", "n_comment"]
    row = out.collect()[0]
    assert (row.n_nationkey, row.n_name, row.n_regionkey, row.n_comment) == (
        1, "x", 9, None,
    )
    assert dict(out.dtypes)["n_regionkey"] == "int"  # cast applied
    # Two source columns normalizing onto one target must raise.
    dup = spark.createDataFrame([(1, 2)], "`nation key` long, `NationKey` long")
    with _pytest.raises(ValueError, match="ambiguous"):
        align_to_schema(dup, target, prefix="n_")


def test_jdbc_scan_is_range_partitioned(spark, sf_dir):
    from xlsx_to_database_spark.queries.sources_sinks import jdbc_partitioned_scan

    df = jdbc_partitioned_scan(spark, sf_dir)
    # 8 disjoint BETWEEN predicates -> 8 input partitions, no overlap/loss.
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == df.select("o_orderkey").distinct().count()


def test_bloom_sink_writes_bloom_filters(spark, sf_dir, tmp_path):
    """The bloom-enabled write must physically carry the filter. This
    pyarrow build's ColumnChunkMetaData does not surface
    bloom_filter_offset, so the assertion is the filter's size
    footprint: identical data written with and without the option must
    differ by roughly the filter size (~NDV-sized bitset), and the
    bloom-enabled read must return identical rows."""
    import os

    from xlsx_to_database_spark.catalog import table as _table
    from xlsx_to_database_spark.queries.sources_sinks import parquet_bloom_sink

    parquet_bloom_sink(spark, sf_dir).collect()
    tag = os.path.basename(os.path.normpath(sf_dir))
    dst = f"/tmp/spark_stage/{tag}_lineitem_bloom"

    li = _table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    plain = str(tmp_path / "plain")
    li.write.mode("overwrite").parquet(plain)

    def psize(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    grew = psize(dst) - psize(plain)
    assert grew > 50_000, f"bloom write grew only {grew} bytes — filter missing?"
    assert (
        spark.read.parquet(dst).count() == spark.read.parquet(plain).count()
    )


def test_survival_km_matches_hand_computed(spark, tmp_path):
    # durations: 10 (d=2 of 2), 20 (1 event + 1 censored-at-horizon),
    # 31 (d=1). n_risk: 5, 3, 1 -> S = .6, .6*(2/3)=.4, then d=n -> 0.
    import datetime as dt
    import os

    from xlsx_to_database_spark.queries.stats import stat_survival_km

    d = str(tmp_path / "km")
    os.makedirs(d)
    rows = []
    for ck, (d0, d1) in enumerate(
        [("1995-01-01", "1995-01-11"), ("1995-01-01", "1995-01-11"),
         ("1995-01-01", "1995-01-21"), ("1998-02-01", "1998-02-21"),
         ("1995-01-01", "1995-02-01")],
        start=1,
    ):
        rows += [(ck, dt.date.fromisoformat(d0)), (ck, dt.date.fromisoformat(d1))]
    spark.createDataFrame(
        rows, "o_custkey long, o_orderdate date"
    ).write.parquet(os.path.join(d, "orders.parquet"))
    got = {
        r.duration_days: (r.n_at_risk, r.d_events, r.survival)
        for r in stat_survival_km(spark, d).collect()
    }
    assert got == {10: (5, 2, 0.6), 20: (3, 1, 0.4), 31: (1, 1, 0.0)}


def test_changepoint_finds_level_shift(spark, tmp_path):
    # daily series 10,10,10,20,20,20 -> centered cusum -5,-10,-15,-10,-5,0:
    # |max| = 15 on day 3.
    import datetime as dt
    import os

    from xlsx_to_database_spark.queries.stats import stat_changepoint

    d = str(tmp_path / "cp")
    os.makedirs(d)
    spark.createDataFrame(
        [(dt.date(1995, 1, i + 1), 10.0 if i < 3 else 20.0) for i in range(6)],
        "o_orderdate date, o_totalprice double",
    ).write.parquet(os.path.join(d, "orders.parquet"))
    r = stat_changepoint(spark, d).collect()[0]
    assert (str(r.changepoint_day), r.cusum_abs, r.n_days) == (
        "1995-01-03", 15.0, 6,
    )


def test_bpe_pairs_hand_computed(spark, tmp_path):
    # "ab ab cd" + "abc" -> pairs ab:3 (2 tokens + prefix of abc), bc:1, cd:1.
    import os

    from xlsx_to_database_spark.queries.corpus_ops import text_bpe_pairs

    d = str(tmp_path / "bpe")
    os.makedirs(d)
    spark.createDataFrame(
        [(1, "ab ab cd"), (2, "abc")], "doc_id long, text string"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    got = [(r.pair, r.cnt) for r in text_bpe_pairs(spark, d).collect()]
    assert got == [("ab", 3), ("bc", 1), ("cd", 1)]


def test_bootstrap_ci_single_scan_and_brackets_mean(spark, sf_dir):
    """All 64 replicates must compile into ONE pass over orders (one
    FileScan — the Poisson-bootstrap point), and the CI must bracket
    the point estimate."""
    from xlsx_to_database_spark.plans import explain_str
    from xlsx_to_database_spark.queries.stats import stat_bootstrap_ci

    df = stat_bootstrap_ci(spark, sf_dir)
    plan = explain_str(df)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    r = df.collect()[0]
    assert r.n_reps == 64
    assert r.mean_lo < r.mean_point < r.mean_hi


def test_coverage_plus_gaps_spans_the_lifetime(spark, sf_dir):
    """Cross-op invariant: for every customer, merged-interval coverage
    plus idle-gap days must exactly equal the end-to-end span
    (first start → last end) — the two ops partition each lifetime, so
    any double-count or off-by-one in either sweep breaks the sum."""
    from pyspark.sql import functions as F

    from xlsx_to_database_spark.registry import all_queries

    qs = all_queries()

    cov = qs["interval_coverage"](spark, sf_dir).alias("c")
    gap = qs["interval_gaps"](spark, sf_dir).alias("g")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    span = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.datediff(
            F.date_add(F.max("o_orderdate").cast("date"), 30),
            F.min("o_orderdate").cast("date"),
        ).alias("span")
    ).alias("s")
    joined = (
        cov.join(gap, "c_custkey", "left")
        .join(span, "c_custkey")
        .select(
            (F.col("c.covered_days") + F.coalesce(F.col("g.idle_days"), F.lit(0))
             ).alias("total"),
            "s.span",
        )
    )
    assert joined.filter(F.col("total") != F.col("span")).count() == 0


def test_survival_curve_is_monotone_nonincreasing(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    qs = all_queries()
    rows = sorted(
        qs["stat_survival_km"](spark, sf_dir).collect(),
        key=lambda r: r.duration_days,
    )
    for a, b in zip(rows, rows[1:]):
        assert b.survival <= a.survival + 1e-9
    assert all(0.0 <= r.survival <= 1.0 for r in rows)


def test_pareto_shares_are_cumulative_to_one(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    qs = all_queries()
    rows = sorted(
        qs["stat_pareto"](spark, sf_dir).collect(), key=lambda r: r.decile
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert b.cum_share >= a.cum_share
        # deciles rank by DESCENDING revenue: per-decile share shrinks
        assert b.rev_share <= a.rev_share + 1e-9
    assert abs(rows[-1].cum_share - 1.0) < 1e-6


def test_frank2_matches_hand_computed_tie_averaged_ranks(spark):
    # x = [10, 10, 20, 30, 30, 30]: fractional ranks 1.5,1.5,3,5,5,5
    # -> 2*rank = 3,3,6,10,10,10
    from xlsx_to_database_spark.queries.stats import _frank2

    df = spark.createDataFrame([(10,), (10,), (20,), (30,), (30,), (30,)], "x int")
    got = {int(r.x): int(r.r2) for r in _frank2(df, "x", "r2").collect()}
    assert got == {10: 3, 20: 6, 30: 10}


def test_spearman_is_plus_one_on_monotone_data(spark, tmp_path, sf_dir):
    # rho must be exactly 1 when y is a strictly increasing function of x
    # (rank invariance) — stage a monotone lineitem and run the real op.
    import shutil

    from xlsx_to_database_spark.registry import all_queries

    stage = tmp_path / "sf_mono"
    stage.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        shutil.copy(f"{sf_dir}/{t}.parquet", stage / f"{t}.parquet")
    spark.range(1, 201).select(
        (F.col("id") % 37).cast("double").alias("l_quantity"),
        ((F.col("id") % 37) * 3 + 1).cast("double").alias("l_extendedprice"),
    ).coalesce(1).write.mode("overwrite").parquet(str(stage / "lineitem.parquet"))
    row = all_queries()["stat_spearman"](spark, str(stage)).collect()[0]
    assert row.n_rows == 200
    assert row.rho_spearman == 1.0


def test_event_pattern_conv_pos_is_minimal_subsequence_end(spark, sf_dir):
    # Recompute the earliest v..c..p subsequence end per user in Python
    # over the raw events and compare against the operator output.
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    ev = (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    seqs = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        seqs.setdefault(r.user_id, []).append(r.event_type[0])
    expect = {}
    for u, chars in seqs.items():
        s = "".join(chars)
        i1 = s.find("v")
        i2 = s.find("c", i1 + 1) if i1 >= 0 else -1
        i3 = s.find("p", i2 + 1) if i2 >= 0 else -1
        if i3 >= 0:
            expect[u] = (len(chars), i3 + 1)  # 1-based
    got = {
        r.user_id: (r.n_events, r.conv_pos)
        for r in all_queries()["event_pattern_match"](spark, sf_dir).collect()
    }
    assert got == expect


def test_sample_weighted_matches_python_replay(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).collect()
    expect = set()
    for r in orders:
        u = (r.o_orderkey * 2654435761 + 7919) % 1048576
        p = min(int(r.o_totalprice * 1048576.0 / 600000.0), 1048576)
        if u < p:
            expect.add(r.o_orderkey)
    got = {
        r.o_orderkey
        for r in all_queries()["sample_weighted"](spark, sf_dir).collect()
    }
    assert got == expect and len(got) > 0


def test_pmi_lift_exceeds_one_for_top_collocations(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["text_pmi"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    assert all(r.cnt >= 5 for r in rows)
    # top-k by lift, descending, ties broken (w1, w2)
    keys = [(-r.pmi_lift, r.w1, r.w2) for r in rows]
    assert keys == sorted(keys)


def test_ref_integrity_full_dim_has_zero_orphans(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    rows = {r.rel: r for r in all_queries()["dq_ref_integrity"](spark, sf_dir).collect()}
    assert rows["orders->customer"].n_orphans == 0
    for r in rows.values():
        assert 0 <= r.n_orphans <= r.n_child
        assert 0.0 <= r.orphan_rate <= 1.0


def test_rolling_slope_matches_python_replay(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("xs"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    ).collect()
    byu = {}
    for r in ev:
        byu.setdefault(r.user_id, []).append(r)
    expect = {}
    for u, rows in byu.items():
        x0 = min(r.xs for r in rows)
        rows = sorted(rows, key=lambda r: (r.xs - x0, r.event_id))
        for i, r in enumerate(rows):
            fr = rows[max(0, i - 10): i + 1]
            n = len(fr)
            sx = sum(q.xs - x0 for q in fr)
            sy = sum(q.y for q in fr)
            sxx = sum((q.xs - x0) ** 2 for q in fr)
            sxy = sum((q.xs - x0) * q.y for q in fr)
            den = float(n) * float(sxx) - float(sx) * float(sx)
            slope = (
                None if den == 0
                else round((float(n) * float(sxy) - float(sx) * float(sy)) / den, 6)
            )
            expect[(u, r.event_id)] = (n, slope)
    got = {
        (r.user_id, r.event_id): (r.n_frame, r.slope_cents_per_s)
        for r in all_queries()["win_rolling_slope"](spark, sf_dir).collect()
    }
    assert got == expect


def test_clustering_coeff_is_one_on_a_clique(spark, tmp_path, sf_dir):
    import shutil

    from xlsx_to_database_spark.registry import all_queries

    stage = tmp_path / "sf_clique"
    stage.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        shutil.copy(f"{sf_dir}/{t}.parquet", stage / f"{t}.parquet")
    # order 1 holds parts {1,2,3,4} -> K4 (every node coeff 1, d=3);
    # orders 2,3 hold {5,6} and {6,7} -> a path, no node reaches d>=3
    rows = [(1, p) for p in (1, 2, 3, 4)] + [(2, 5), (2, 6), (3, 6), (3, 7)]
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").coalesce(
        1
    ).write.mode("overwrite").parquet(str(stage / "lineitem.parquet"))
    got = all_queries()["graph_clustering_coeff"](spark, str(stage)).collect()
    assert sorted(r.part_key for r in got) == [1, 2, 3, 4]
    assert all(r.degree == 3 and r.n_triangles == 3 and r.clustering == 1.0
               for r in got)


def test_naive_bayes_ranks_are_dense_per_lang(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["ml_naive_bayes"](spark, sf_dir).collect()
    bylang = {}
    for r in rows:
        assert r.cnt >= 5 and r.nb_lift > 0
        bylang.setdefault(r.lang, []).append(r)
    for lang, rs in bylang.items():
        rs = sorted(rs, key=lambda r: r.rk)
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        for a, b in zip(rs, rs[1:]):
            assert b.nb_lift <= a.nb_lift + 1e-9


def test_wilson_interval_brackets_p_hat(spark, sf_dir):
    import math as m

    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["stat_binomial_ci"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.0 <= r.wilson_lo <= r.p_hat <= r.wilson_hi <= 1.0
        # replay the closed form
        n, p = float(r.n), r.k / r.n
        half = 1.96 * m.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
        lo = (p + 1.9208 / n - half) / (1 + 3.8416 / n)
        hi = (p + 1.9208 / n + half) / (1 + 3.8416 / n)
        assert abs(r.wilson_lo - lo) < 1e-6 and abs(r.wilson_hi - hi) < 1e-6


def test_kendall_tau_matches_itertools_brute_force(spark, tmp_path, sf_dir):
    import itertools
    import math as m
    import shutil

    from xlsx_to_database_spark.registry import all_queries

    stage = tmp_path / "sf_tau"
    stage.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        shutil.copy(f"{sf_dir}/{t}.parquet", stage / f"{t}.parquet")
    pts = [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 3), (4, 2), (4, 2)]
    spark.createDataFrame(
        [(float(x), y) for x, y in pts], "l_quantity double, l_linenumber int"
    ).coalesce(1).write.mode("overwrite").parquet(str(stage / "lineitem.parquet"))
    row = all_queries()["stat_kendall_tau"](spark, str(stage)).collect()[0]
    conc = disc = tx = ty = 0
    for (x1, y1), (x2, y2) in itertools.combinations(pts, 2):
        if x1 == x2:
            tx += 1
            if y1 == y2:
                ty += 1
            continue
        if y1 == y2:
            ty += 1
            continue
        if (x2 - x1) * (y2 - y1) > 0:
            conc += 1
        else:
            disc += 1
    n = len(pts)
    n0 = n * (n - 1) // 2
    n1 = sum(1 for (a, b) in itertools.combinations(pts, 2) if a[0] == b[0])
    n2 = sum(1 for (a, b) in itertools.combinations(pts, 2) if a[1] == b[1])
    tau = (conc - disc) / m.sqrt((n0 - n1) * (n0 - n2))
    assert (row.n_rows, row.concordant, row.discordant) == (n, conc, disc)
    assert abs(row.tau_b - round(tau, 6)) < 1e-9


def test_cramers_v_is_normalized_effect_size(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    qs = all_queries()
    r = qs["stat_cramers_v"](spark, sf_dir).collect()[0]
    chi = qs["stat_chi2"](spark, sf_dir).collect()[0]
    assert abs(r.chi2 - chi.chi2) < 1e-6  # same contingency, same statistic
    assert 0.0 <= r.cramers_v <= 1.0


def test_nested_json_round_trip_is_lossless(spark, sf_dir):
    from pyspark.sql import functions as FF

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.o_orderkey: (r.n_items, r.sum_qty)
        for r in all_queries()["json_nested_scan"](spark, sf_dir).collect()
    }
    li = table(spark, sf_dir, "lineitem")
    exp = {
        r.l_orderkey: (r.n, r.s)
        for r in li.filter(FF.col("l_orderkey") % 16 == 1)
        .groupBy("l_orderkey")
        .agg(
            FF.count(FF.lit(1)).alias("n"),
            FF.sum(FF.col("l_quantity").cast("long")).alias("s"),
        )
        .collect()
    }
    assert got == exp


def test_gzip_csv_stage_is_multi_file(spark, sf_dir):
    import glob
    import os

    from xlsx_to_database_spark.queries.sources_sinks import _STAGE_ROOT, _tag
    from xlsx_to_database_spark.registry import all_queries

    df = all_queries()["csv_gzip_scan"](spark, sf_dir)
    assert df.count() > 0
    root = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_part_gzip_csv")
    gz = glob.glob(os.path.join(root, "*.csv.gz"))
    # gzip is unsplittable: parallel grain = file count, so the stage
    # must write several compressed files, each a valid gzip member
    assert len(gz) >= 2
    import gzip as gz_mod

    with gz_mod.open(gz[0], "rt") as fh:
        header = fh.readline().strip()
    assert header == "p_partkey,p_name,p_size,p_retailprice"


def test_fifo_allocation_conserves_budget(spark, sf_dir):
    from pyspark.sql import functions as FF

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    out = all_queries()["etl_fifo_allocate"](spark, sf_dir)
    per_cust = (
        out.groupBy("c_custkey")
        .agg(
            FF.round(FF.sum("allocated"), 2).alias("total_alloc"),
            FF.count_if(FF.col("status") == "partial").alias("n_partial"),
        )
        .collect()
    )
    bal = {
        r.c_custkey: round(r.c_acctbal, 2)
        for r in table(spark, sf_dir, "customer")
        .filter(FF.col("c_acctbal") > 0)
        .collect()
    }
    for r in per_cust:
        # at most one partially-filled order per customer, and the
        # total allocated never exceeds the budget
        assert r.n_partial <= 1
        assert r.total_alloc <= bal[r.c_custkey] + 1e-6


def test_logreg_newton_direction_matches_class_means(spark, sf_dir):
    """One Newton step from beta=0 has slope sign equal to the sign of
    cov(x, y): F-status orders are the OLDER (pre-1995 cheap-after-
    discount?) population — just assert the slope agrees with the
    empirical mean difference between classes."""
    from pyspark.sql import functions as FF

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    row = all_queries()["ml_logreg_newton"](spark, sf_dir).collect()[0]
    o = table(spark, sf_dir, "orders")
    means = o.groupBy((FF.col("o_orderstatus") == "F").alias("y")).agg(
        FF.avg("o_totalprice").alias("m")
    ).collect()
    m = {r.y: r.m for r in means}
    want_positive = m[True] > m[False]
    assert (row.beta1_per_m_cents > 0) == want_positive
    assert row.n_rows == o.count()


def test_assortativity_is_a_correlation(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    r = all_queries()["graph_assortativity"](spark, sf_dir).collect()[0]
    assert -1.0 <= r.assortativity <= 1.0
    assert r.n_edges > 0


def test_tost_equivalent_iff_both_sides_reject(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    r = all_queries()["stat_equivalence_tost"](spark, sf_dir).collect()[0]
    assert r.equivalent == (r.t_upper < -1.645 and r.t_lower > 1.645)
    # t_upper tests against +delta, t_lower against -delta: they must
    # straddle (t_lower > t_upper always, margin = 2*delta/se > 0)
    assert r.t_lower > r.t_upper
    assert r.n_a > 0 and r.n_b > 0


def test_preamble_lines_never_leak(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    out = all_queries()["csv_preamble_scan"](spark, sf_dir)
    n_sup = table(spark, sf_dir, "supplier").count()
    assert out.count() == n_sup
    assert out.filter(F.col("s_suppkey").isNull()).count() == 0


def test_url_canonicalize_collapses_each_trio(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    out = all_queries()["url_canonicalize"](spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert len(out) == n_docs  # one canonical URL per document
    for r in out:
        assert r.n_variants == 3 and r.n_distinct_raw == 3
        u = r.canonical_url
        assert u.startswith("https://src")
        assert "utm_" not in u and "#" not in u and ":443" not in u
        assert u.endswith("?a=1&b=2")  # params survive, sorted


def test_decision_stump_beats_every_other_cut(spark, sf_dir):
    from pyspark.sql import functions as FF

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    best = all_queries()["ml_decision_stump"](spark, sf_dir).collect()[0]
    o = table(spark, sf_dir, "orders").select(
        FF.floor(FF.col("o_totalprice") / 10000).cast("long").alias("b"),
        (FF.col("o_orderstatus") == "F").cast("int").alias("y"),
    ).collect()
    import collections

    n = collections.Counter()
    k = collections.Counter()
    for r in o:
        n[r.b] += 1
        k[r.b] += r.y
    nt, kt = sum(n.values()), sum(k.values())
    bs = sorted(n)
    nl = kl = 0
    best_g, best_b = None, None
    for b in bs:
        nl += n[b]
        kl += k[b]
        nr, kr = nt - nl, kt - kl
        if nl == 0 or nr == 0:
            continue
        g = round(
            (kl * kl + (nl - kl) ** 2) / nl + (kr * kr + (nr - kr) ** 2) / nr,
            9,
        )
        if best_g is None or g > best_g:
            best_g, best_b = g, b
    assert best.split_below == (best_b + 1) * 10000
    assert abs(best.gini_after - round((nt - best_g) / nt, 6)) < 1e-9


def test_runs_test_consistency(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    r = all_queries()["stat_runs_test"](spark, sf_dir).collect()[0]
    # runs count is bounded by [1, n1+n2] and at least 2 when both
    # labels occur; z replays from the closed form
    import math as m

    n1, n2, R = r.n_above, r.n_below, r.n_runs
    n = n1 + n2
    assert 2 <= R <= n
    mu = 2 * n1 * n2 / n + 1
    var = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
    assert abs(r.z - round((R - mu) / m.sqrt(var), 6)) < 1e-9


def test_jackknife_se_matches_numpy_replay(spark, sf_dir):
    import math as m

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = all_queries()["stat_jackknife_ratio_se"](spark, sf_dir).collect()[0]
    rows = table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("y"),
        F.col("l_quantity").cast("long").alias("x"),
    ).collect()
    sy = sum(r.y for r in rows)
    sx = sum(r.x for r in rows)
    n = len(rows)
    R = sy / sx
    ds = [(sy - r.y) / (sx - r.x) - R for r in rows]
    sd = sum(ds)
    sdd = sum(d * d for d in ds)
    se = m.sqrt((n - 1) / n * (sdd - sd * sd / n)) / 100
    assert got.n_rows == n
    assert abs(got.ratio_dollars_per_unit - round(R / 100, 6)) < 1e-9
    # python replay sums unquantized doubles in list order: agree loosely
    assert abs(got.jackknife_se_dollars - se) < 1e-6 * max(se, 1.0)


def test_compression_ratio_separates_repetitive_from_diverse(spark, tmp_path, sf_dir):
    import shutil

    from xlsx_to_database_spark.registry import all_queries

    stage = tmp_path / "sf_comp"
    stage.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        shutil.copy(f"{sf_dir}/{t}.parquet", stage / f"{t}.parquet")
    rep = "spam " * 200
    div = " ".join(f"tok{i}x{i * 7 % 97}" for i in range(200))
    spark.createDataFrame(
        [(1, rep, "en", "s", len(rep)), (2, div, "en", "s", len(div))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(stage / "documents.parquet"))
    got = {
        r.doc_id: r.ratio
        for r in all_queries()["text_compression_ratio"](
            spark, str(stage)
        ).collect()
    }
    assert got[1] < 0.1          # repetitive junk crushes
    assert got[2] > 3 * got[1]   # diverse text resists compression
    # determinism: second run identical
    got2 = {
        r.doc_id: r.ratio
        for r in all_queries()["text_compression_ratio"](
            spark, str(stage)
        ).collect()
    }
    assert got == got2


def test_weighted_median_crossing_rule(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = all_queries()["agg_weighted_median"](spark, sf_dir).collect()[0]
    rows = table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    ).collect()
    agg = {}
    for r in rows:
        agg[r.v] = agg.get(r.v, 0) + r.w
    tw = sum(agg.values())
    cw = 0
    for v in sorted(agg):
        cw += agg[v]
        if 2 * cw >= tw:
            assert got.weighted_median == round(v / 100, 2)
            break
    assert got.total_weight == tw


def test_capture_recapture_estimate_is_plausible(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    r = all_queries()["stat_capture_recapture"](spark, sf_dir).collect()[0]
    assert r.n_overlap <= min(r.n_sample_a, r.n_sample_b)
    # Chapman is consistent: with ~1/7 marking of many orders per
    # customer the samples are large; estimate within 2x of truth
    assert 0.5 * r.n_true_customers < r.chapman_estimate < 2 * r.n_true_customers


def test_vwap_equals_flat_price_when_constant(spark, tmp_path, sf_dir):
    import shutil

    from xlsx_to_database_spark.registry import all_queries

    stage = tmp_path / "sf_vwap"
    stage.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        shutil.copy(f"{sf_dir}/{t}.parquet", stage / f"{t}.parquet")
    # part 7 ships 5 fills at a CONSTANT unit price of $3 -> vwap == 3
    rows = [
        (7, f"1995-0{i}-01", i, 1, 3.0 * (i + 1), float(i + 1))
        for i in range(1, 6)
    ]
    spark.createDataFrame(
        rows,
        "l_partkey long, l_shipdate string, l_orderkey long,"
        " l_linenumber int, l_extendedprice double, l_quantity double",
    ).selectExpr(
        "l_partkey", "CAST(l_shipdate AS DATE) l_shipdate", "l_orderkey",
        "l_linenumber", "l_extendedprice", "l_quantity",
    ).coalesce(1).write.mode("overwrite").parquet(str(stage / "lineitem.parquet"))
    got = all_queries()["win_rolling_vwap"](spark, str(stage)).collect()
    assert len(got) == 5
    assert all(r.vwap == 3.0 for r in got)


def test_peaks_are_strict_local_maxima(spark, sf_dir):
    from pyspark.sql import functions as FF

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    peaks = all_queries()["win_peaks"](spark, sf_dir).collect()
    daily = {
        r.d: r.v
        for r in table(spark, sf_dir, "orders")
        .groupBy(FF.col("o_orderdate").alias("d"))
        .agg(
            FF.sum(
                FF.floor(FF.col("o_totalprice") * 100 + FF.lit(0.5)).cast("long")
            ).alias("v")
        )
        .collect()
    }
    days = sorted(daily)
    idx = {d: i for i, d in enumerate(days)}
    for p in peaks:
        i = idx[p.peak_date]
        assert 0 < i < len(days) - 1
        assert daily[days[i]] > daily[days[i - 1]]
        assert daily[days[i]] > daily[days[i + 1]]
        assert p.prominence > 1.25


def test_theil_sen_resists_an_outlier(spark, tmp_path, sf_dir):
    import shutil

    from xlsx_to_database_spark.registry import all_queries

    stage = tmp_path / "sf_ts"
    stage.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        shutil.copy(f"{sf_dir}/{t}.parquet", stage / f"{t}.parquet")
    # part 13: unit price climbs exactly $1/day... except one wild
    # fat-finger (x100) that OLS would chase and Theil-Sen must ignore
    rows = []
    for i in range(9):
        price = 100.0 + i if i != 4 else (100.0 + i) * 100
        rows.append((13, f"1995-01-{i + 1:02d}", i + 1, price, 1.0))
    spark.createDataFrame(
        rows,
        "l_partkey long, l_shipdate string, l_orderkey long,"
        " l_extendedprice double, l_quantity double",
    ).selectExpr(
        "l_partkey", "CAST(l_shipdate AS DATE) l_shipdate", "l_orderkey",
        "l_extendedprice", "l_quantity",
    ).coalesce(1).write.mode("overwrite").parquet(str(stage / "lineitem.parquet"))
    got = all_queries()["stat_theil_sen"](spark, str(stage)).collect()
    assert len(got) == 1
    # true slope $1/day = 100 cents/day; the outlier can't move the median
    assert abs(got[0].theil_sen_slope - 100.0) < 1e-6


def test_katz_first_term_is_degree(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["graph_katz_bounded"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        # walk counts grow with k on a connected co-purchase graph
        assert r.walks_1 <= r.walks_2 <= r.walks_3
        expect = round(
            0.05 * r.walks_1 + 0.0025 * r.walks_2 + 0.000125 * r.walks_3, 6
        )
        assert abs(r.katz - expect) < 1e-9


def test_maxsim_self_match_is_top_with_score_4(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["sim_maxsim"](spark, sf_dir).collect()
    assert rows[0].vec_id == 0
    # each of the 4 query sub-vectors best-matches itself at cos=1
    assert abs(rows[0].maxsim - 4.0) < 1e-9
    scores = [r.maxsim for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(-4.0 <= s <= 4.0 for s in scores)


def test_latin1_bytes_are_not_valid_utf8(spark, sf_dir):
    import os

    from xlsx_to_database_spark.queries.sources_sinks import _STAGE_ROOT, _tag
    from xlsx_to_database_spark.registry import all_queries

    out = all_queries()["csv_latin1_scan"](spark, sf_dir)
    assert out.count() == 25
    path = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_nation_cp1252.csv")
    raw = open(path, "rb").read()
    assert b"\xe9" in raw  # é as a single Latin-1 byte
    try:
        raw.decode("utf-8")
        raise AssertionError("fixture must NOT be valid UTF-8")
    except UnicodeDecodeError:
        pass
    # decoded labels carry the accents intact
    assert all("à résumé über" in r.label for r in out.collect())


def test_table_checksum_detects_any_single_row_change(spark, tmp_path, sf_dir):
    import shutil

    from xlsx_to_database_spark.registry import all_queries

    base = {
        r.tbl: (r.n_rows, r.checksum_hi, r.checksum_mid, r.checksum_lo)
        for r in all_queries()["dq_table_checksum"](spark, sf_dir).collect()
    }
    stage = tmp_path / "sf_ck"
    stage.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        shutil.copy(f"{sf_dir}/{t}.parquet", stage / f"{t}.parquet")
    # corrupt ONE nation name, REORDER suppliers (must not move digest)
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n.withColumn(
        "n_name",
        F.when(F.col("n_nationkey") == 3, F.lit("TAMPERED")).otherwise(
            F.col("n_name")
        ),
    ).coalesce(1).write.mode("overwrite").parquet(str(stage / "nation.parquet"))
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    s.orderBy(F.col("s_acctbal").desc()).repartition(7).write.mode(
        "overwrite"
    ).parquet(str(stage / "supplier.parquet"))
    got = {
        r.tbl: (r.n_rows, r.checksum_hi, r.checksum_mid, r.checksum_lo)
        for r in all_queries()["dq_table_checksum"](spark, str(stage)).collect()
    }
    assert got["nation"][1:] != base["nation"][1:]    # tamper detected
    assert got["supplier"] == base["supplier"]        # order-insensitive
    assert got["customer"] == base["customer"]
    # protocol-domain guard, in miniature: every limb sum must survive a
    # float64 round-trip (the r08 driver red was exactly this property
    # failing on the single-sum form)
    for t, vals in {**base, **got}.items():
        for v in vals[1:]:
            assert int(float(v)) == int(v), (t, v)


def test_winnowing_guarantees_shared_fingerprint_on_long_overlap(spark, tmp_path, sf_dir):
    import shutil

    from xlsx_to_database_spark.registry import all_queries

    stage = tmp_path / "sf_winnow"
    stage.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        shutil.copy(f"{sf_dir}/{t}.parquet", stage / f"{t}.parquet")
    # docs 1 and 2 share a verbatim 12-token quote (>= k+w-1 = 6 tokens
    # -> winnowing GUARANTEES >= 1 shared fingerprint; 12 gives >= 3);
    # doc 3 is disjoint
    quote = " ".join(f"q{i}" for i in range(12))
    docs = [
        (1, f"alpha beta {quote} gamma delta", "en", "s", 1),
        (2, f"zeta eta {quote} theta iota kappa", "en", "s", 1),
        (3, " ".join(f"z{i}" for i in range(20)), "en", "s", 1),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(stage / "documents.parquet"))
    pairs = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in all_queries()["dedup_winnowing"](spark, str(stage)).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 3
    assert all(3 not in p for p in pairs)


def test_sprt_decision_is_first_boundary_crossing(spark, sf_dir):
    import math as m

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = all_queries()["stat_sprt"](spark, sf_dir).collect()[0]
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("o_orderstatus") == "F").alias("k"),
        )
        .collect()
    )
    la, lb = m.log(0.55 / 0.45), m.log(0.45 / 0.55)
    hi, lo = m.log(0.95 / 0.05), m.log(0.05 / 0.95)
    s = 0.0
    first = None
    for r in sorted(daily, key=lambda r: r.d):
        s += r.k * la + (r.n - r.k) * lb
        if s >= hi or s <= lo:
            first = (r.d, "accept_h1" if s >= hi else "accept_h0")
            break
    assert first is not None
    assert (got.decision_date, got.verdict) == first


def test_knn_classify_votes_sum_to_k(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["ml_knn_classify"](spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert 1 <= r.votes <= 5
        assert isinstance(r.correct, bool)


def test_odds_ratio_replays_from_cells(spark, sf_dir):
    import math as m

    from xlsx_to_database_spark.registry import all_queries

    r = all_queries()["stat_odds_ratio"](spark, sf_dir).collect()[0]
    orr = (r.a * r.d) / (r.b * r.c)
    se = m.sqrt(1 / r.a + 1 / r.b + 1 / r.c + 1 / r.d)
    assert abs(r.odds_ratio - round(orr, 6)) < 1e-9
    assert r.log_or_lo < m.log(orr) < r.log_or_hi
    assert abs((r.log_or_hi - r.log_or_lo) / 2 - 1.96 * se) < 1e-5


def test_rake_phrases_contain_no_stopwords(spark, sf_dir):
    from xlsx_to_database_spark.operators.text import STOPWORDS
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["text_rake_keyphrases"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 15
    for r in rows:
        words = r.phrase.split(" ")
        assert len(words) == r.n_words
        assert not set(words) & set(STOPWORDS)
        assert r.rake_score > 0
    scores = [r.rake_score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_evolving_union_aligns_by_name(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    out = all_queries()["csv_evolving_union"](spark, sf_dir).collect()
    v1 = [r for r in out if r.schema_rev == "v1"]
    v2 = [r for r in out if r.schema_rev == "v2"]
    assert v1 and v2
    assert all(r.s_nationkey is None and r.s_acctbal is not None for r in v1)
    assert all(r.s_acctbal is None and r.s_nationkey is not None for r in v2)
    assert all(r.s_suppkey % 2 == 0 for r in v1)
    assert all(r.s_suppkey % 2 == 1 for r in v2)


def test_reset_running_sum_restarts_at_signup(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    out = {
        (r.user_id, r.event_id): (r.segment, r.running_since_signup)
        for r in all_queries()["win_reset_running_sum"](spark, sf_dir).collect()
    }
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    ).collect()
    byu = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        byu.setdefault(r.user_id, []).append(r)
    import random

    for u in random.Random(7).sample(sorted(byu), 10):
        seg, run = 0, 0
        for r in byu[u]:
            if r.event_type == "signup":
                seg += 1
                run = 0
            run += int(r.value * 100 + 0.5)
            g_seg, g_run = out[(u, r.event_id)]
            assert g_seg == seg
            assert abs(g_run - round(run / 100, 2)) < 1e-9


def test_tpch_refresh_preserves_prerefresh_snapshot(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.operators.txn_table import TxnTable
    from xlsx_to_database_spark.queries.sources_sinks import _tag
    from xlsx_to_database_spark.registry import all_queries

    row = all_queries()["tpch_refresh"](spark, sf_dir).collect()[0]
    n_orig = table(spark, sf_dir, "orders").count()
    # post-refresh count replay: base minus deleted plus surviving inserts
    o = table(spark, sf_dir, "orders").select("o_orderkey").collect()
    ins = [r.o_orderkey + 3000000 for r in o if r.o_orderkey % 17 == 3]
    after = [k.o_orderkey for k in o if k.o_orderkey % 31 != 0] + [
        k for k in ins if k % 31 != 0
    ]
    assert row.n_orders == len(after)
    assert row.max_key == max(after)
    # time travel: version 0 (pre-refresh) still reads the original set
    tt = TxnTable(
        spark, f"/tmp/spark_stage/{_tag(sf_dir)}_tpch_refresh", "o_orderkey"
    )
    assert tt.read(0).count() == n_orig


def test_roc_auc_equals_row_level_mannwhitney(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = all_queries()["ml_roc_auc"](spark, sf_dir).collect()[0]
    rows = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") / 5000).cast("long").alias("s"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    ).collect()
    pos = sorted(r.s for r in rows if r.y == 1)
    neg = sorted(r.s for r in rows if r.y == 0)
    import bisect

    conc = sum(bisect.bisect_left(neg, s) for s in pos)
    ties = sum(
        bisect.bisect_right(neg, s) - bisect.bisect_left(neg, s) for s in pos
    )
    auc = conc / (len(pos) * len(neg)) + 0.5 * ties / (len(pos) * len(neg))
    assert abs(got.auc - round(auc, 6)) < 1e-9
    assert -1.0 <= got.youden_j <= 1.0
    assert got.youden_threshold % 5000 == 0


def test_pseudonymized_aggregates_equal_cleartext(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    tok = {
        r.segment: (r.n_orders, r.n_customers, r.revenue)
        for r in all_queries()["etl_pseudonymize_keys"](spark, sf_dir).collect()
    }
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    clear = {
        r.seg: (r.n, r.nc, r.rev)
        for r in o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("c_custkey").alias("nc"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("rev"),
        )
        .collect()
    }
    assert tok == clear  # de-identification must not change analytics


def test_threshold_sweep_is_monotone_nonincreasing(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    rows = sorted(
        all_queries()["dedup_threshold_sweep"](spark, sf_dir).collect(),
        key=lambda r: r.threshold,
    )
    assert [round(r.threshold, 1) for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
    for a, b in zip(rows, rows[1:]):
        assert b.n_dup_pairs <= a.n_dup_pairs


def test_time_since_error_excludes_self_and_is_positive(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["win_time_since_last_error"](spark, sf_dir).collect()
    assert rows
    assert all(r.secs_since_error >= 0 for r in rows)


def test_extreme_value_return_level_dominates_mu(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    r = all_queries()["stat_extreme_value"](spark, sf_dir).collect()[0]
    assert r.n_blocks >= 12
    assert r.gumbel_beta > 0
    # 100-period return level sits far above the location parameter
    assert r.return_level_100 > r.gumbel_mu


def test_ht_estimator_is_tight_for_pps_on_target(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    r = all_queries()["stat_ht_estimate"](spark, sf_dir).collect()[0]
    assert 0 < r.n_sampled < r.n_population
    # PPS sampling on the measured variable itself -> very tight
    assert 0.9 < r.ratio < 1.1


def test_homoglyph_normalize_restores_every_doc(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    r = all_queries()["text_homoglyph_normalize"](spark, sf_dir).collect()[0]
    n = table(spark, sf_dir, "documents").count()
    assert r.n_docs == n
    assert r.n_changed > 0  # the staged poisoning must be detected
    assert r.net_a_restored > 0


def test_time_decay_bounded_by_plain_sum(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    dec = {
        r.user_id: r.decayed_value
        for r in all_queries()["agg_time_decay"](spark, sf_dir).collect()
    }
    plain = {
        r.user_id: r.s
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert set(dec) == set(plain)
    for u in dec:
        assert 0 < dec[u] <= plain[u] + 0.01  # decay only shrinks


def test_temporal_consistency_matches_python_replay(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    r = all_queries()["dq_temporal_consistency"](spark, sf_dir).collect()[0]
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate").collect()
    od = {
        o.o_orderkey: o.o_orderdate
        for o in table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate").collect()
    }
    lags = [(x.l_shipdate - od[x.l_orderkey]).days for x in li]
    # the synthetic generator draws shipdates independently of order
    # dates, so the audit MUST surface violations — a zero here would
    # mean the check is vacuous on this data
    assert r.ship_before_order == sum(1 for d in lags if d < 0) > 0
    assert (r.min_lag_days, r.max_lag_days) == (min(lags), max(lags))
    assert r.n_facts == len(lags)


def test_skyline_no_member_dominates_another(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    sky = all_queries()["agg_skyline_2d"](spark, sf_dir).collect()
    pts = [
        (r.p_size, round(r.p_retailprice * 100))
        for r in table(spark, sf_dir, "part")
        .select("p_size", "p_retailprice")
        .collect()
    ]
    members = [(r.p_size, round(r.p_retailprice * 100)) for r in sky]
    assert members

    def dominates(a, b):
        return a[0] <= b[0] and a[1] >= b[1] and a != b

    # every member is undominated by the WHOLE point set
    for m in members:
        assert not any(dominates(p, m) for p in pts if p != m)
    # every non-member is dominated by some member
    member_set = set(members)
    for p in pts:
        if p not in member_set:
            assert any(dominates(m, p) for m in members)


def test_penny_drift_replay(spark, sf_dir):
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.grp: (r.n_lines, r.sum_of_rounded_cents, r.rounded_sum_cents)
        for r in all_queries()["dq_penny_reconcile"](spark, sf_dir).collect()
    }
    rows = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount", "l_tax"
    ).collect()
    agg = {}
    for r in rows:
        ex = (
            Decimal(str(round(r.l_extendedprice, 2)))
            * (1 - Decimal(str(round(r.l_discount, 2))))
            * (1 + Decimal(str(round(r.l_tax, 2))))
        )
        rc = int((ex * 100).quantize(Decimal("1"), rounding="ROUND_FLOOR")
                 + (1 if (ex * 100) % 1 >= Decimal("0.5") else 0))
        n, src, tot = agg.get(r.l_returnflag, (0, 0, Decimal(0)))
        agg[r.l_returnflag] = (n + 1, src + rc, tot + ex)
    for g, (n, src, tot) in agg.items():
        want_rsc = int((tot * 100 + Decimal("0.5")).quantize(
            Decimal("1"), rounding="ROUND_FLOOR"))
        assert got[g] == (n, src, want_rsc)


def test_standardize_zero_mean_unit_var_per_group(spark, sf_dir):
    import math as m

    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["etl_feature_standardize"](spark, sf_dir).collect()
    byn = {}
    for r in rows:
        byn.setdefault(r.c_nationkey, []).append(r.acctbal_z)
    for nk, zs in byn.items():
        if len(zs) < 2:
            continue
        mean = sum(zs) / len(zs)
        var = sum((z - mean) ** 2 for z in zs) / (len(zs) - 1)
        assert abs(mean) < 1e-4
        assert abs(m.sqrt(var) - 1.0) < 1e-3


def test_snaive_backtest_is_gap_correct(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    r = all_queries()["stat_backtest_snaive"](spark, sf_dir).collect()[0]
    daily = {
        x.d: x.v
        for x in table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("v")
        )
        .collect()
    }
    import datetime

    pairs = [
        (v, daily[d - datetime.timedelta(days=7)])
        for d, v in daily.items()
        if d - datetime.timedelta(days=7) in daily
    ]
    assert r.n_days == len(pairs)
    mae = sum(abs(v - p) for v, p in pairs) / len(pairs) / 100
    assert abs(r.mae_dollars - round(mae, 2)) < 1e-9


def test_allen_census_covers_all_consecutive_pairs(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["interval_allen_relations"](spark, sf_dir).collect()
    total_pairs = sum(r.n_pairs for r in rows)
    per_cust = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert total_pairs == sum(r.n - 1 for r in per_cust)
    names = {r.relation for r in rows}
    # start-order makes inverse relations unreachable
    assert names <= {
        "before", "meets", "overlaps", "starts", "during", "finishes",
        "equal", "contains",
    }


def test_rsi_matches_decimal_replay(spark, sf_dir):
    """RSI-14 per supplier must equal a driver-side Decimal replay of
    Cutler's formula over the same (orderdate, orderkey)-sorted series —
    pinning frame alignment (rn > 14), the gain/loss split, and the
    decimal-exact windowed sums."""
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        (r.l_suppkey, r.l_orderkey, r.l_linenumber): r.rsi
        for r in all_queries()["win_rsi"](spark, sf_dir).collect()
    }
    assert got, "sf0.001 suppliers each ship hundreds of lines"
    series: dict[int, list] = {}
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate",
                "l_extendedprice")
        .collect()
    ):
        series.setdefault(r.l_suppkey, []).append(r)
    want = {}
    q = Decimal("0.01")
    for sk, rows in series.items():
        rows.sort(key=lambda r: (r.l_shipdate, r.l_orderkey, r.l_linenumber))
        px = [Decimal(repr(r.l_extendedprice)).quantize(q) for r in rows]
        deltas = [None] + [px[i] - px[i - 1] for i in range(1, len(px))]
        for i in range(14, len(rows)):  # rn = i+1 > 14
            frame = [d for d in deltas[max(0, i - 13): i + 1] if d is not None]
            gain = sum((d for d in frame if d > 0), Decimal(0))
            loss = sum((-d for d in frame if d < 0), Decimal(0))
            if gain + loss != 0:
                want[(sk, rows[i].l_orderkey, rows[i].l_linenumber)] = round(
                    100.0 * float(gain) / float(gain + loss), 6
                )
    assert got == want
    assert all(0.0 <= v <= 100.0 for v in got.values())


def test_reservoir_sample_is_k_deterministic_and_uniformly_keyed(spark, sf_dir):
    """Exactly min(k, |group|) rows per priority class, stable across
    runs, and every sampled row exists in the source — the properties
    that make hash-rank reservoir sampling a drop-in for the sequential
    algorithm."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    fn = all_queries()["sample_reservoir"]
    a = sorted(map(tuple, fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert a == b, "hash-keyed sample must be deterministic"
    sizes = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .count()
        .collect()
    )
    expected = {r.o_orderpriority: min(5, r["count"]) for r in sizes}
    per_group: dict[str, int] = {}
    for prio, _, _ in a:
        per_group[prio] = per_group.get(prio, 0) + 1
    assert per_group == expected
    src = {
        (r.o_orderkey, r.o_custkey)
        for r in table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .collect()
    }
    assert all((k, c) in src for _, k, c in a)


def test_table_vacuum_breaks_only_collected_history(spark, sf_dir):
    """After the op's vacuum(retain=1), the latest snapshot must still
    read (and match a direct Spark recomputation), while v0 — whose
    exclusive pre-merge files were collected — must no longer be
    readable. Physical GC, zero logical effect on retained versions."""
    import pytest as _pytest

    from pyspark.errors.exceptions.captured import AnalysisException

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.operators.txn_table import TxnTable
    from xlsx_to_database_spark.queries.sources_sinks import _tag
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.o_orderstatus: (r.n_rows, r.total)
        for r in all_queries()["table_vacuum"](spark, sf_dir).collect()
    }
    o = table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    want = {
        r.o_orderstatus: (r.n_rows, r.total)
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(
                    F.when(
                        F.col("o_orderkey").between(200, 299),
                        (F.lit(2) * p).cast("decimal(18,2)"),
                    ).otherwise(p)
                ).cast("double"),
                2,
            ).alias("total"),
        )
        .collect()
    }
    assert got == want
    tt = TxnTable(
        spark, f"/tmp/spark_stage/{_tag(sf_dir)}_table_vacuum", "o_orderkey"
    )
    assert tt.read().count() == o.count()  # retained snapshot intact
    with _pytest.raises(AnalysisException):
        tt.read(version=0).count()  # collected history is gone


def test_bitemporal_late_axis_sees_every_correction(spark, sf_dir):
    """At the late cutoff (past every record time) the believed total
    must equal base prices + 100 per corrected (k % 7 == 0) order, and
    the early axis must count exactly the orders already RECORDED by
    then — the two-axis semantics in one check."""
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["etl_bitemporal"](spark, sf_dir).collect()
    late = {r.status: r for r in rows if r.as_of.year == 2002}
    early_n = sum(r.n_orders for r in rows if r.as_of.year == 1998)
    o = table(spark, sf_dir, "orders").collect()
    q = Decimal("0.01")
    want: dict[str, Decimal] = {}
    counts: dict[str, int] = {}
    for r in o:
        p = Decimal(repr(r.o_totalprice)).quantize(q)
        if r.o_orderkey % 7 == 0:
            p += 100
        want[r.o_orderstatus] = want.get(r.o_orderstatus, Decimal(0)) + p
        counts[r.o_orderstatus] = counts.get(r.o_orderstatus, 0) + 1
    assert {s: r.n_orders for s, r in late.items()} == counts
    for s, r in late.items():
        assert r.believed_total == round(float(want[s]), 2)
    from datetime import datetime

    cutoff = datetime(1998, 1, 1)
    assert early_n == sum(1 for r in o if r.o_orderdate <= cutoff)


def test_freshness_lags_are_anchored_and_nonnegative(spark, sf_dir):
    """Exactly one event type carries the global max (lag 0, not
    stale), every lag is >= 0, and per-type counts sum to the table."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["dq_freshness"](spark, sf_dir).collect()
    assert sum(1 for r in rows if r.lag_sec == 0) == 1
    freshest = next(r for r in rows if r.lag_sec == 0)
    assert not freshest.stale
    assert all(r.lag_sec >= 0 for r in rows)
    assert all(r.stale == (r.lag_sec > 1800) for r in rows)
    assert sum(r.n for r in rows) == table(spark, sf_dir, "events").count()


def test_pr_curve_is_threshold_monotone(spark, sf_dir):
    """Raising the threshold can only shrink the predicted-positive set:
    recall is non-increasing, tp+fn is the constant positive count, and
    every ratio matches its integer counts."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = sorted(
        all_queries()["ml_pr_curve"](spark, sf_dir).collect(),
        key=lambda r: r.threshold,
    )
    pos = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .count()
    )
    assert all(r.tp + r.fn == pos for r in rows)
    recalls = [r.recall for r in rows]
    assert recalls == sorted(recalls, reverse=True)
    for r in rows:
        if r.tp + r.fp:
            assert r.precision == round(r.tp / (r.tp + r.fp), 6)
        if r.tp + r.fn:
            assert r.recall == round(r.tp / (r.tp + r.fn), 6)


def test_bollinger_bands_are_symmetric_and_complete(spark, sf_dir):
    """Bands must straddle the mid symmetrically (their mean IS the
    mid, up to the 6dp round), never invert, and emit exactly one row
    per full 20-order frame."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["win_bollinger"](spark, sf_dir).collect()
    assert rows, "sf0.001 suppliers each ship hundreds of lines"
    for r in rows:
        assert r.lower <= r.mid <= r.upper
        assert abs((r.upper + r.lower) / 2 - r.mid) < 2e-6
    per = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .count()
        .collect()
    )
    assert len(rows) == sum(max(0, r["count"] - 19) for r in per)


def test_transition_matrix_rows_normalize(spark, sf_dir):
    """Each prev-state's outgoing probabilities sum to 1 (up to 6dp
    rounding) and pair counts equal events minus one per active user."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["event_transition_matrix"](spark, sf_dir).collect()
    by_prev: dict[str, float] = {}
    n_pairs = 0
    for r in rows:
        by_prev[r.prev] = by_prev.get(r.prev, 0.0) + r.p
        n_pairs += r.n
    assert all(abs(s - 1.0) < 1e-4 for s in by_prev.values()), by_prev
    ev = table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert n_pairs == n_events - n_users


def test_late_arriving_dim_attributes_every_fact(spark, sf_dir):
    """No fact is dropped (n_orders sums to the fact table), and the
    UNKNOWN-transit count per nation is exactly the %13 customers'
    orders — the inferred-member bookkeeping, checked end to end."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["etl_late_arriving_dim"](spark, sf_dir).collect()
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    assert sum(r.n_orders for r in rows) == o.count()
    late = {
        r.nationkey: r.n
        for r in o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("c_custkey") % 13 == 0)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.nationkey: r.n_late_attributed for r in rows if r.n_late_attributed} == late


def test_kcore_matches_python_peeling(spark, sf_dir):
    """The distributed bounded-iteration peel must reach the exact same
    k-core membership and within-core degrees as a sequential driver
    replay — the rows-only op's full-value pin. The replay must also
    actually PEEL (at k=2 on this corpus some nodes fall), and the
    core must be non-empty — the two conditions that make the scale
    mirror's row signal meaningful (round-11 verdict #8; graph
    derivation degree-bounded per round-12 verdict #7)."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.queries.graph import (
        _KCORE_K,
        _KCORE_TOPN,
    )
    from xlsx_to_database_spark.registry import all_queries

    got = {
        (r.part, r.core_degree)
        for r in all_queries()["graph_kcore"](spark, sf_dir).collect()
    }
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    by_order: dict[int, set] = {}
    for r in li:
        by_order.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    from itertools import combinations

    pair_counts: dict[tuple, int] = {}
    for parts in by_order.values():
        for u, v in combinations(sorted(parts), 2):
            pair_counts[(u, v)] = pair_counts.get((u, v), 0) + 1
    # MUTUAL top-N neighbor graph: (m desc, dst asc) per source; an
    # edge survives only if both endpoints picked it
    by_src: dict[int, list] = {}
    for (u, v), m in pair_counts.items():
        by_src.setdefault(u, []).append((-m, v))
        by_src.setdefault(v, []).append((-m, u))
    picked: dict[int, set] = {
        src: {dst for _, dst in sorted(nbrs)[:_KCORE_TOPN]}
        for src, nbrs in by_src.items()
    }
    edges = {
        (min(s, d), max(s, d))
        for s, ds in picked.items()
        for d in ds
        if s in picked.get(d, ())
    }
    while True:
        deg: dict[int, int] = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= _KCORE_K}
        nxt = {(u, v) for (u, v) in edges if u in keep and v in keep}
        if nxt == edges:
            break
        edges = nxt
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    assert got == set(deg.items())
    assert deg, "k-core empty at this scale — mirror signal vacuous"


def test_lorenz_curve_is_monotone_and_complete(spark, sf_dir):
    """Ten points, balanced decile sizes (±1 row), strictly
    non-decreasing cumulative share ending at exactly 1."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = sorted(
        all_queries()["stat_lorenz_curve"](spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    n = table(spark, sf_dir, "lineitem").count()
    assert sum(r.n_rows for r in rows) == n
    assert max(r.n_rows for r in rows) - min(r.n_rows for r in rows) <= 1
    shares = [r.cum_share for r in rows]
    assert shares == sorted(shares)
    assert shares[-1] == 1.0
    # value-sorted deciles: each decile's sum dominates the previous
    sums = [r.decile_sum for r in rows]
    assert sums == sorted(sums)


def test_kfold_grid_arithmetic_equals_bruteforce(spark, sf_dir):
    """Leave-one-fold-out accuracies derived by grid subtraction must
    equal a brute-force python recomputation per (fold, threshold),
    including the argmax tie-break toward the smaller threshold."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.fold: (r.best_threshold, r.train_acc, r.test_acc)
        for r in all_queries()["ml_kfold_cv"](spark, sf_dir).collect()
    }
    data = [
        (r.o_orderkey % 5, r.o_totalprice,
         r.o_orderpriority in ("1-URGENT", "2-HIGH"))
        for r in table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .collect()
    ]
    thresholds = (50000, 100000, 150000, 200000, 250000)
    want = {}
    for f in range(5):
        train = [(p, y) for g, p, y in data if g != f]
        test = [(p, y) for g, p, y in data if g == f]
        best = max(
            thresholds,
            key=lambda t: (
                sum((p >= t) == y for p, y in train) / len(train),
                -t,
            ),
        )
        want[f] = (
            best,
            round(sum((p >= best) == y for p, y in train) / len(train), 6),
            round(sum((p >= best) == y for p, y in test) / len(test), 6),
        )
    assert got == want


def test_footer_stats_cover_every_row_group(spark, tmp_path):
    """The footer reader must emit one row per (row group × column)
    with per-group min/max — pinned on a 3-row-group file it cannot
    answer from data (no data pages are read)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xlsx_to_database_spark.queries.sources_sinks import _footer_stats

    t = pa.table({"k": list(range(25)), "v": [i * 10 for i in range(25)]})
    path = str(tmp_path / "rg.parquet")
    pq.write_table(t, path, row_group_size=10)
    got = _footer_stats(path, ("k", "v"))
    assert got == [
        (0, "k", 10, 0, 9), (0, "v", 10, 0, 90),
        (1, "k", 10, 10, 19), (1, "v", 10, 100, 190),
        (2, "k", 5, 20, 24), (2, "v", 5, 200, 240),
    ]


def test_point_stab_matches_python_count(spark, sf_dir):
    """Each probe's active-window count must equal a sequential scan of
    the 30-day containment predicate."""
    from datetime import datetime, timedelta

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.probe: (r.n_active, r.n_customers)
        for r in all_queries()["interval_point_stab"](spark, sf_dir).collect()
    }
    orders = table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_custkey"
    ).collect()
    probes = [datetime(1996, 3, 15), datetime(1997, 6, 15),
              datetime(1998, 9, 15), datetime(1999, 12, 15)]
    want = {}
    for p in probes:
        hits = [
            r for r in orders
            if r.o_orderdate <= p < r.o_orderdate + timedelta(days=30)
        ]
        if hits:
            want[p] = (len(hits), len({r.o_custkey for r in hits}))
    assert got == want


def test_scd3_keeps_exactly_one_level_of_history(spark, sf_dir):
    """Movers become MACHINERY with the old segment in segment_prior;
    already-MACHINERY movers record no prior; non-movers unchanged."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.c_custkey: r
        for r in all_queries()["etl_scd3"](spark, sf_dir).collect()
    }
    src = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).collect()
    assert len(got) == len(src)
    for r in src:
        out = got[r.c_custkey]
        if r.c_custkey % 7 == 0:
            assert out.segment_current == "MACHINERY"
            if r.c_mktsegment != "MACHINERY":
                assert out.segment_prior == r.c_mktsegment
                assert out.changed_at is not None
            else:
                assert out.segment_prior is None and out.changed_at is None
        else:
            assert out.segment_current == r.c_mktsegment
            assert out.segment_prior is None and out.changed_at is None


def test_balanced_sample_equalizes_to_minority(spark, sf_dir):
    """Every class must shrink to exactly the minority class's size,
    deterministically, drawing only existing rows."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    fn = all_queries()["sample_balanced_classes"]
    a = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert a == sorted(map(tuple, fn(spark, sf_dir).collect()))
    sizes = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .count()
        .collect()
    )
    k = min(r["count"] for r in sizes)
    per: dict[str, int] = {}
    for prio, _ in a:
        per[prio] = per.get(prio, 0) + 1
    assert set(per.values()) == {k}
    assert len(per) == len(sizes)


def test_hurst_matches_python_rs_replay(spark, sf_dir):
    """The one-row R/S summary must equal a sequential Decimal replay:
    same blocking, same division-free R_scaled/√(nΣv²−(Σv)²), same
    6dp-quantized ln aggregation."""
    import math
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    row = all_queries()["stat_hurst"](spark, sf_dir).collect()[0]
    ev = sorted(
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    series: dict[int, list] = {}
    for r in ev:
        series.setdefault(r.user_id, []).append(
            Decimal(repr(r.value)).quantize(Decimal("0.01"))
        )
    got = {}
    for n in (16, 64):
        ls = []
        for vals in series.values():
            for b in range(len(vals) // n):
                block = vals[b * n: (b + 1) * n]
                s1 = sum(block)
                s2 = sum(v * v for v in block)
                cum = Decimal(0)
                devs = []
                for i, v in enumerate(block, start=1):
                    cum += v
                    devs.append(n * cum - i * s1)
                r_scaled = max(devs) - min(devs)
                var_n = n * s2 - s1 * s1
                if r_scaled > 0 and var_n > 0:
                    ls.append(
                        Decimal(
                            str(round(
                                math.log(float(r_scaled)
                                         / math.sqrt(float(var_n))), 6))
                        )
                    )
        got[n] = (len(ls), round(float(sum(ls)) / len(ls), 6))
    assert (row.n_blocks_16, row.mlog_16) == got[16]
    assert (row.n_blocks_64, row.mlog_64) == got[64]
    assert row.hurst == round((got[64][1] - got[16][1]) / math.log(4), 6)
    assert 0.0 < row.hurst < 1.0


def test_geohash_pins_known_reference_value(spark):
    """The generated interleave/base32 expression must reproduce the
    canonical reference example: (42.605, -5.603) -> 'ezs42'."""
    from xlsx_to_database_spark.queries.geo_ops import geohash5_expr

    expr = geohash5_expr("42.605", "(-5.603)")
    assert spark.sql(f"SELECT {expr} AS g").collect()[0].g == "ezs42"
    # equator/meridian origin lands in cell s00 at precision 5
    expr0 = geohash5_expr("0.0", "0.0")
    assert spark.sql(f"SELECT {expr0} AS g").collect()[0].g.startswith("s00")


def test_geohash_column_is_wellformed(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["geo_geohash"](spark, sf_dir).collect()
    assert len(rows) == table(spark, sf_dir, "customer").count()
    alpha = set("0123456789bcdefghjkmnpqrstuvwxyz")
    for r in rows:
        assert len(r.geohash5) == 5 and set(r.geohash5) <= alpha
        assert -90 <= r.lat < 90 and -180 <= r.lon < 180


def test_nearest_warehouse_is_the_argmin(spark, sf_dir):
    """Every assignment must be the true distance argmin (python
    haversine, 1e-6 slack for libm-vs-JVM ULP differences)."""
    import math

    from xlsx_to_database_spark.registry import all_queries

    sites = {
        "rotterdam": (51.92, 4.48), "singapore": (1.35, 103.82),
        "memphis": (35.15, -90.05), "santos": (-23.96, -46.33),
        "yokohama": (35.44, 139.64),
    }

    def hav(lat1, lon1, lat2, lon2):
        rl = math.radians
        return 2 * 6371.0 * math.asin(math.sqrt(
            math.sin(rl(lat2 - lat1) / 2) ** 2
            + math.cos(rl(lat1)) * math.cos(rl(lat2))
            * math.sin(rl(lon2 - lon1) / 2) ** 2
        ))

    rows = all_queries()["geo_haversine_nearest"](spark, sf_dir).collect()
    for r in rows:
        k = r.c_custkey
        lat = ((k * 7919) % 17000) / 100.0 - 85
        lon = ((k * 104729) % 36000) / 100.0 - 180
        dists = {n: hav(lat, lon, la, lo) for n, (la, lo) in sites.items()}
        assert dists[r.warehouse] <= min(dists.values()) + 1e-6
        assert abs(dists[r.warehouse] - r.dist_km) < 1e-3


def test_bbox_agg_is_consistent_with_geohash_points(spark, sf_dir):
    """The per-nation bbox/centroid must equal a Decimal aggregation of
    the per-customer coordinates the (oracle-verified) geohash op
    emits — cross-op internal consistency."""
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    pts = {
        r.c_custkey: (r.lat, r.lon)
        for r in all_queries()["geo_geohash"](spark, sf_dir).collect()
    }
    nat = {
        r.c_custkey: r.c_nationkey
        for r in table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .collect()
    }
    agg: dict[int, list] = {}
    for k, (lat, lon) in pts.items():
        agg.setdefault(nat[k], []).append((lat, lon))
    got = {
        r.nationkey: r
        for r in all_queries()["geo_bbox_agg"](spark, sf_dir).collect()
    }
    assert set(got) == set(agg)
    for nk, pairs in agg.items():
        r = got[nk]
        lats = [p[0] for p in pairs]
        lons = [p[1] for p in pairs]
        assert (r.n_points, r.lat_min, r.lat_max, r.lon_min, r.lon_max) == (
            len(pairs), min(lats), max(lats), min(lons), max(lons)
        )
        cl = sum(Decimal(repr(v)).quantize(Decimal("0.01")) for v in lats)
        co = sum(Decimal(repr(v)).quantize(Decimal("0.01")) for v in lons)
        assert r.lat_centroid == round(float(cl) / len(pairs), 6)
        assert r.lon_centroid == round(float(co) / len(pairs), 6)


def test_point_in_polygon_matches_python_raycast(spark, sf_dir):
    """Per-nation inside counts must equal a python ray-cast replay
    over the same synthetic coordinates."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    poly = [(60.0, 0.0), (30.0, 52.0), (-30.0, 52.0),
            (-60.0, 0.0), (-30.0, -52.0), (30.0, -52.0)]

    def inside(px, py):
        n, c = len(poly), 0
        for i in range(n):
            x1, y1 = poly[i]
            x2, y2 = poly[(i + 1) % n]
            if (y1 > py) != (y2 > py) and (
                px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
            ):
                c += 1
        return c % 2 == 1

    got = {
        r.nationkey: (r.n_total, r.n_inside)
        for r in all_queries()["geo_point_in_polygon"](spark, sf_dir)
        .collect()
    }
    want: dict[int, list] = {}
    for r in (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .collect()
    ):
        k = r.c_custkey
        lat = ((k * 7919) % 17000) / 100.0 - 85
        lon = ((k * 104729) % 36000) / 100.0 - 180
        t, i = want.get(r.c_nationkey, (0, 0))
        want[r.c_nationkey] = (t + 1, i + (1 if inside(lon, lat) else 0))
    assert got == want
    assert sum(i for _, i in got.values()) > 0  # polygon is not empty


def test_grid_density_cells_are_geohash_prefixes(spark, sf_dir):
    """Top-cell counts must equal prefix-grouping of the per-customer
    geohash op's output, in descending order."""
    from xlsx_to_database_spark.registry import all_queries

    gh = all_queries()["geo_geohash"](spark, sf_dir).collect()
    per: dict[str, int] = {}
    for r in gh:
        per[r.geohash5[:4]] = per.get(r.geohash5[:4], 0) + 1
    top = sorted(per.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r.cell, r.n_points)
        for r in all_queries()["geo_grid_density"](spark, sf_dir).collect()
    ]
    assert got == top


def test_kwic_windows_match_python_slicing(spark, sf_dir):
    """Every emitted concordance row must equal python list slicing of
    the tokenized document at the same position."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    docs = {
        r.doc_id: r.text.split(" ")
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    want = set()
    for did, toks in docs.items():
        for i, t in enumerate(toks):
            if t == "join":
                want.add((
                    did, i + 1,
                    " ".join(toks[max(0, i - 3): i]),
                    " ".join(toks[i + 1: i + 4]),
                ))
    got = {
        (r.doc_id, r.pos, r.left_ctx, r.right_ctx)
        for r in all_queries()["text_kwic"](spark, sf_dir).collect()
    }
    assert got == want and got


def test_tukey_outliers_match_python_fences(spark, sf_dir):
    """Rank-based Q1/Q3 and decimal fences replayed sequentially."""
    import math
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.grp: (r.n_rows, r.q1, r.q3, r.n_outliers)
        for r in all_queries()["dq_tukey_outliers"](spark, sf_dir).collect()
    }
    groups: dict[str, list] = {}
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_orderkey",
                "l_linenumber")
        .collect()
    ):
        groups.setdefault(r.l_returnflag, []).append(r)
    q = Decimal("0.01")
    want = {}
    for g, rows in groups.items():
        rows.sort(key=lambda r: (r.l_extendedprice, r.l_orderkey,
                                 r.l_linenumber))
        ps = [Decimal(repr(r.l_extendedprice)).quantize(q) for r in rows]
        n = len(ps)
        q1 = ps[math.ceil(0.25 * n) - 1]
        q3 = ps[math.ceil(0.75 * n) - 1]
        lo = q1 - Decimal("1.5") * (q3 - q1)
        hi = q3 + Decimal("1.5") * (q3 - q1)
        want[g] = (
            n, round(float(q1), 2), round(float(q3), 2),
            sum(1 for p in ps if p < lo or p > hi),
        )
    assert got == want


def test_donchian_counts_match_python_channel(spark, sf_dir):
    """Breakout counts per supplier vs a sequential channel replay."""
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.l_suppkey: (r.n_break_up, r.n_break_dn, r.n_eval)
        for r in all_queries()["win_donchian"](spark, sf_dir).collect()
    }
    series: dict[int, list] = {}
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
                "l_extendedprice")
        .collect()
    ):
        series.setdefault(r.l_suppkey, []).append(r)
    want = {}
    for sk, rows in series.items():
        rows.sort(key=lambda r: (r.l_shipdate, r.l_orderkey, r.l_linenumber))
        ps = [Decimal(repr(r.l_extendedprice)).quantize(Decimal("0.01"))
              for r in rows]
        up = dn = ev = 0
        for i in range(20, len(ps)):
            win = ps[max(0, i - 20): i]
            ev += 1
            if ps[i] > max(win):
                up += 1
            if ps[i] < min(win):
                dn += 1
        if ev:
            want[sk] = (up, dn, ev)
    assert got == want


def test_chat_template_render_and_budget(spark, sf_dir):
    """Rendered prompt must equal python formatting and the budget
    columns must count wrapper overhead exactly."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    src = {
        r.doc_id: r.text
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select("doc_id", "text")
        .collect()
    }
    rows = all_queries()["text_chat_template"](spark, sf_dir).collect()
    assert {r.doc_id for r in rows} == set(src)
    for r in rows:
        t = src[r.doc_id]
        assert r.prompt == (
            "<|system|>summarize briefly<|end|>"
            f"<|user|>{t}<|end|><|assistant|>"
        )
        assert r.n_tokens == len(t.split(" ")) + 8
        assert r.n_chars == len(t) + 64


def test_shard_shuffle_balances_and_covers(spark, sf_dir):
    """Round-robin dealing over the hash order: shard sizes within 1,
    every doc counted once, token total preserved, deterministic."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    fn = all_queries()["corpus_shard_shuffle"]
    rows = sorted(fn(spark, sf_dir).collect(), key=lambda r: r.shard)
    again = sorted(fn(spark, sf_dir).collect(), key=lambda r: r.shard)
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    d = table(spark, sf_dir, "documents")
    n = d.count()
    assert sum(r.n_docs for r in rows) == n
    assert max(r.n_docs for r in rows) - min(r.n_docs for r in rows) <= 1
    tok = d.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).collect()[0].t
    assert sum(r.n_tokens for r in rows) == tok


def test_fim_split_reassembles_exactly(spark, sf_dir):
    """prefix ++ middle ++ suffix must reproduce the document, with
    cuts at the third-boundaries."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    src = {
        r.doc_id: r.text
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    rows = all_queries()["text_fim_split"](spark, sf_dir).collect()
    seen = set()
    for r in rows:
        toks = src[r.doc_id].split(" ")
        n = len(toks)
        assert r.cut1 == n // 3 and r.cut2 == (2 * n) // 3
        parts = [p for p in (r.prefix, r.middle, r.suffix) if p]
        assert " ".join(parts) == src[r.doc_id]
        assert r.middle  # middle is never empty when n >= 3
        seen.add(r.doc_id)
    assert seen == {d for d, t in src.items() if len(t.split(" ")) >= 3}


def test_sql_udf_inlines_without_python(spark, sf_dir):
    """The SQL UDF plan must contain no Python evaluation node (the
    body macro-expands into codegen), and results must equal inline
    expression evaluation."""
    from xlsx_to_database_spark.plans import explain_str
    from xlsx_to_database_spark.registry import all_queries

    df = all_queries()["udf_sql"](spark, sf_dir)
    plan = explain_str(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    got = {r.o_orderpriority: (r.n, r.net_total) for r in df.collect()}
    from xlsx_to_database_spark.catalog import table

    want = {
        r.o_orderpriority: (r.n, r.net_total)
        for r in table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(
                    (F.col("o_totalprice") * 0.96).cast("decimal(18,4)")
                ),
                2,
            ).cast("double").alias("net_total"),
        )
        .collect()
    }
    assert got == want


def test_geometric_mean_obeys_am_gm(spark, sf_dir):
    """GM <= AM per group (strict here: prices vary), and the GM must
    match a python replay through the same 8dp-quantized log path."""
    import math
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.o_orderpriority: r
        for r in all_queries()["agg_geometric_mean"](spark, sf_dir)
        .collect()
    }
    groups: dict[str, list] = {}
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    ):
        groups.setdefault(r.o_orderpriority, []).append(r.o_totalprice)
    for g, vals in groups.items():
        r = got[g]
        assert r.geo_mean < r.arith_mean
        lg = sum(
            Decimal(str(round(math.log(v), 8))) for v in vals
        )
        assert r.geo_mean == round(math.exp(float(lg) / len(vals)), 4)


def test_wilcoxon_matches_scipy_free_replay(spark, sf_dir):
    """W+ and z replayed sequentially with tie-averaged ranks and the
    tie-corrected normal approximation."""
    import math
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    row = all_queries()["stat_wilcoxon_signed"](spark, sf_dir).collect()[0]
    orders: dict[int, list] = {}
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .collect()
    ):
        orders.setdefault(r.l_orderkey, []).append(r)
    q = Decimal("0.01")
    ds = []
    for rows_ in orders.values():
        if len(rows_) < 2:
            continue
        rows_.sort(key=lambda r: (
            r.l_linenumber, Decimal(repr(r.l_extendedprice)).quantize(q)
        ))
        d = (Decimal(repr(rows_[-1].l_extendedprice)).quantize(q)
             - Decimal(repr(rows_[0].l_extendedprice)).quantize(q))
        if d != 0:
            ds.append(d)
    n = len(ds)
    ranked = sorted(abs(d) for d in ds)
    rank_of = {}
    i = 0
    tie3 = 0
    while i < len(ranked):
        j = i
        while j < len(ranked) and ranked[j] == ranked[i]:
            j += 1
        t = j - i
        rank_of[ranked[i]] = (i + 1 + j) / 2  # average rank
        tie3 += t ** 3 - t
        i = j
    w_plus = sum(rank_of[abs(d)] for d in ds if d > 0)
    z = (w_plus - n * (n + 1) / 4) / math.sqrt(
        n * (n + 1) * (2 * n + 1) / 24 - tie3 / 48
    )
    assert row.n == n
    assert row.w_plus == round(w_plus, 1)
    assert row.z == round(z, 6)


def test_sql_table_function_spine_covers_empty_months(spark, sf_dir):
    """Twelve spine rows, zero-order months included, counts equal a
    direct date-bucket aggregation."""
    from datetime import datetime

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = sorted(
        all_queries()["udtf_sql"](spark, sf_dir).collect(),
        key=lambda r: r.month_off,
    )
    assert [r.month_off for r in rows] == list(range(12))
    assert rows[0].month_start == datetime(1997, 1, 1)
    o = table(spark, sf_dir, "orders").select("o_orderdate").collect()
    for r in rows:
        m = r.month_start
        nxt = datetime(m.year + (m.month == 12), m.month % 12 + 1, 1)
        assert r.n_orders == sum(1 for x in o if m <= x.o_orderdate < nxt)


def test_eb_shrinkage_moves_toward_prior_and_orders_by_evidence(spark, sf_dir):
    """Shrunk rates sit between the raw rate and the prior mean, and a
    low-n part shrinks (relatively) more than a high-n part."""
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["stat_beta_binomial_eb"](spark, sf_dir).collect()
    assert rows
    # recover the prior mean as the fixpoint: shrunk == raw when raw == m
    # approximately; instead test betweenness per row
    for r in rows:
        lo, hi = sorted((r.raw_rate, r.shrunk_rate))
        # shrunk lies between raw and SOME common prior: all shrunk
        # rates must be strictly inside (0, 1)
        assert 0.0 < r.shrunk_rate < 1.0
    # extreme raw rates compress: the max shrunk < max raw, min shrunk > min raw
    assert max(r.shrunk_rate for r in rows) < max(r.raw_rate for r in rows) or \
        max(r.raw_rate for r in rows) == 0
    assert min(r.shrunk_rate for r in rows) > min(r.raw_rate for r in rows)
    # same k/n evidence, same estimate; more evidence => closer to raw
    by_kn = {}
    for r in rows:
        by_kn.setdefault((r.k, r.n), set()).add(r.shrunk_rate)
    assert all(len(v) == 1 for v in by_kn.values())


def test_isotonic_fit_is_monotone_and_matches_pav(spark, sf_dir):
    """Calibrated rates must be non-decreasing in the decile and equal
    a sequential pool-adjacent-violators run over the same bins."""
    from xlsx_to_database_spark.registry import all_queries

    rows = sorted(
        all_queries()["ml_isotonic_calibration"](spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    cal = [r.calibrated for r in rows]
    assert cal == sorted(cal)
    # sequential PAV replay
    pools = [[r.k, r.n] for r in rows]  # [sum_y, count]
    i = 0
    while i < len(pools) - 1:
        if pools[i][0] * pools[i + 1][1] > pools[i + 1][0] * pools[i][1]:
            pools[i][0] += pools[i + 1][0]
            pools[i][1] += pools[i + 1][1]
            del pools[i + 1]
            if i:
                i -= 1
        else:
            i += 1
    # expand pool means back over their member bins
    expanded = []
    bi = 0
    for sy, cnt in pools:
        n_so_far = 0
        while n_so_far < cnt:
            n_so_far += rows[bi].n
            expanded.append(round(sy / cnt, 6))
            bi += 1
    assert cal == expanded


def test_bom_file_reads_clean(spark, sf_dir):
    """The staged file must physically carry the BOM, and the scan must
    return clean headers and an uncorrupted first row."""
    import os

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.queries.sources_sinks import _STAGE_ROOT, _tag
    from xlsx_to_database_spark.registry import all_queries

    df = all_queries()["csv_bom_scan"](spark, sf_dir)
    path = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_nation_bom.csv")
    with open(path, "rb") as fh:
        assert fh.read(3) == b"\xef\xbb\xbf"
    assert df.columns == ["n_nationkey", "n_name", "n_regionkey"]
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey").collect()))
    assert got == want


def test_ulcer_index_matches_decimal_replay(spark, sf_dir):
    """RMS drawdown replayed sequentially per supplier."""
    import math
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.l_suppkey: (r.n, r.ulcer_index, r.max_drawdown_pct)
        for r in all_queries()["win_ulcer_index"](spark, sf_dir).collect()
    }
    series: dict[int, list] = {}
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
                "l_extendedprice")
        .collect()
    ):
        series.setdefault(r.l_suppkey, []).append(r)
    q = Decimal("0.01")
    for sk, rows in series.items():
        rows.sort(key=lambda r: (r.l_shipdate, r.l_orderkey, r.l_linenumber))
        peak = None
        s2 = Decimal(0)
        worst = 0.0
        for r in rows:
            p = Decimal(repr(r.l_extendedprice)).quantize(q)
            peak = p if peak is None or p > peak else peak
            ddp = 100.0 * (float(p) / float(peak) - 1)
            s2 += Decimal(str(round(ddp ** 2, 8)))
            worst = min(worst, round(ddp, 6))
        n = len(rows)
        assert got[sk] == (n, round(math.sqrt(float(s2) / n), 6), worst)


def test_mips_reduction_equals_direct_inner_product_order(spark, sf_dir):
    """The augmented-cosine ranking must equal direct inner-product
    ranking over the whole corpus (not just the top 10)."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    vecs = {
        r.vec_id: r.embedding
        for r in table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    qv = vecs[0]
    ips = {
        k: sum(float(a) * float(b) for a, b in zip(v, qv))
        for k, v in vecs.items()
    }
    want = [
        k for k, _ in sorted(ips.items(), key=lambda kv: (-kv[1], kv[0]))
    ][:10]
    rows = all_queries()["sim_mips_transform"](spark, sf_dir).collect()
    assert [r.vec_id for r in rows] == want
    for r in rows:
        assert abs(r.ip - ips[r.vec_id]) < 1e-4


def test_twap_matches_decimal_replay(spark, sf_dir):
    """Σp·dt / Σdt replayed sequentially, last/zero-gap obs dropped."""
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.l_suppkey: (r.n_segments, r.span_sec, r.twap)
        for r in all_queries()["win_twap"](spark, sf_dir).collect()
    }
    series: dict[int, list] = {}
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
                "l_extendedprice")
        .collect()
    ):
        series.setdefault(r.l_suppkey, []).append(r)
    q = Decimal("0.01")
    for sk, rows in series.items():
        rows.sort(key=lambda r: (r.l_shipdate, r.l_orderkey, r.l_linenumber))
        num = Decimal(0)
        den = 0
        nseg = 0
        for a, b in zip(rows, rows[1:]):
            dt = int((b.l_shipdate - a.l_shipdate).total_seconds())
            if dt > 0:
                num += Decimal(repr(a.l_extendedprice)).quantize(q) * dt
                den += dt
                nseg += 1
        if den:
            assert got[sk] == (nseg, den, round(float(num) / den, 6))


def test_scd2_snapshot_has_exactly_one_active_version_per_key(spark, sf_dir):
    """At every snapshot date, n_active summed over states must equal
    the number of keys whose history has started — the half-open
    interval invariant."""
    from datetime import datetime

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["etl_scd2_snapshot"](spark, sf_dir).collect()
    per_snap: dict = {}
    for r in rows:
        per_snap[r.snap] = per_snap.get(r.snap, 0) + r.n_active
    first = {
        r.o_custkey: r.f
        for r in table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("f"))
        .collect()
    }
    for snap, n in per_snap.items():
        assert n == sum(1 for f in first.values() if f <= snap), snap
    assert datetime(1999, 1, 1) in per_snap


def test_check_constraint_rejects_null_and_negative_atomically(spark, tmp_path):
    """NULL fails CHECK (SQL semantics: only TRUE passes); a rejected
    batch leaves no files and no version behind."""
    import os

    import pytest as _pytest

    from xlsx_to_database_spark.operators.txn_table import (
        CheckViolation, TxnTable,
    )

    t = TxnTable(spark, str(tmp_path / "t"), "k")
    t.create(spark.range(1, 11).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ))
    bad = spark.range(11, 14).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 12, None).otherwise(-1.0).alias("v"),
    )
    with _pytest.raises(CheckViolation):
        t.append(bad, check=F.col("v") > 0)
    assert t.latest_version() == 0
    assert t.read().count() == 10
    t.append(
        spark.range(11, 14).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        ),
        check=F.col("v") > 0,
    )
    assert t.latest_version() == 1 and t.read().count() == 13


def test_freq_spectrum_conserves_types_and_tokens(spark, sf_dir):
    """Σ n_types = vocabulary size; Σ n_tokens = corpus token count;
    n_tokens = frequency · n_types per row."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["text_freq_spectrum"](spark, sf_dir).collect()
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("t"))
    assert sum(r.n_types for r in rows) == toks.distinct().count()
    assert sum(r.n_tokens for r in rows) == toks.count()
    for r in rows:
        assert r.n_tokens == r.frequency * r.n_types


def test_histogram2d_margins_match_1d_counts(spark, sf_dir):
    """Summing cells over one axis must reproduce the other axis's 1-D
    histogram, and total count equals the table."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["stat_histogram2d"](spark, sf_dir).collect()
    li = table(spark, sf_dir, "lineitem")
    assert sum(r.n for r in rows) == li.count()
    margin: dict[int, int] = {}
    for r in rows:
        margin[r.price_bin] = margin.get(r.price_bin, 0) + r.n
    want = {
        r.b: r.n
        for r in li.groupBy(
            F.floor(F.col("l_extendedprice") / 10000).cast("long").alias("b")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert margin == want


def test_modularity_of_component_partition_is_positive_fraction(spark, sf_dir):
    """For a partition into whole components every edge is internal, so
    Q = 1 - Σ(a_c/2m)² ∈ (0, 1) when there are ≥2 communities — replay
    the closed form from the edge list."""
    from itertools import combinations

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    row = all_queries()["graph_modularity"](spark, sf_dir).collect()[0]
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    by_order: dict[int, list] = {}
    for r in li:
        by_order.setdefault(r.l_orderkey, []).append(r.l_partkey)
    pc: dict[tuple, int] = {}
    for parts in by_order.values():
        # row-pair counting (matches the op and the CC oracle)
        for u, v in combinations(sorted(parts), 2):
            if u != v:
                pc[(u, v)] = pc.get((u, v), 0) + 1
    edges = [e for e, c in pc.items() if c >= 2]
    # union-find components
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    m = len(edges)
    deg: dict[int, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    a_c: dict[int, int] = {}
    for n, d in deg.items():
        a_c[find(n)] = a_c.get(find(n), 0) + d
    q = sum(
        1 * ec_m - (ac / (2 * m)) ** 2
        for ac, ec_m in (
            (ac, sum(1 for u, v in edges
                     if find(u) == c) / m)
            for c, ac in a_c.items()
        )
    )
    assert row.n_edges == m
    assert row.n_communities == len(a_c)
    assert row.modularity == round(q, 6)
    if row.n_communities > 1:
        assert 0.0 < row.modularity < 1.0


def test_pretrain_funnel_is_monotone_and_replayable(spark, sf_dir):
    """Stage counts must be non-increasing down the funnel and equal a
    sequential python replay of normalize → gate → dedup → decontam."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = {
        r.stage: (r.n_docs, r.n_tokens)
        for r in all_queries()["pipeline_pretrain_corpus"](spark, sf_dir)
        .collect()
    }
    order = ["raw", "quality", "dedup_exact", "decontaminate"]
    assert set(rows) == set(order)
    docs = [
        (r.doc_id, r.text.strip().lower())
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    normed = [(i, t, len(t.split(" "))) for i, t in docs]
    quality = [(i, t, n) for i, t, n in normed if 10 <= n <= 2000]
    best: dict[str, int] = {}
    for i, t, n in quality:
        best[t] = min(best.get(t, i), i)
    deduped = [(i, t, n) for i, t, n in quality if best[t] == i]
    decon = [(i, t, n) for i, t, n in deduped
             if "needle in a haystack" not in t]
    want = {
        "raw": (len(normed), sum(n for *_, n in normed)),
        "quality": (len(quality), sum(n for *_, n in quality)),
        "dedup_exact": (len(deduped), sum(n for *_, n in deduped)),
        "decontaminate": (len(decon), sum(n for *_, n in decon)),
    }
    assert rows == want
    counts = [rows[s][0] for s in order]
    assert counts == sorted(counts, reverse=True)


def test_time_heatmap_covers_grid_and_sums(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["event_time_heatmap"](spark, sf_dir).collect()
    ev = table(spark, sf_dir, "events")
    assert sum(r.n for r in rows) == ev.count()
    assert sum(r.n_errors for r in rows) == ev.filter(
        F.col("event_type") == "error"
    ).count()
    assert all(0 <= r.dow <= 6 and 0 <= r.hod <= 23 for r in rows)
    assert all(r.n_errors <= r.n for r in rows)


def test_cohens_d_matches_decimal_replay(spark, sf_dir):
    import math
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    row = all_queries()["stat_cohens_d"](spark, sf_dir).collect()[0]
    q = Decimal("0.01")
    arms: dict[bool, list] = {True: [], False: []}
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    ):
        arms[r.o_orderpriority == "1-URGENT"].append(
            Decimal(repr(r.o_totalprice)).quantize(q)
        )
    n1, n2 = len(arms[True]), len(arms[False])
    a1, a2 = sum(arms[True]), sum(arms[False])
    b1 = sum(v * v for v in arms[True])
    b2 = sum(v * v for v in arms[False])
    m1, m2 = float(a1) / n1, float(a2) / n2
    ss1 = float(b1) - float(a1) * float(a1) / n1
    ss2 = float(b2) - float(a2) * float(a2) / n2
    d = (m1 - m2) / math.sqrt((ss1 + ss2) / (n1 + n2 - 2))
    assert (row.n1, row.n2) == (n1, n2)
    assert row.mean_diff == round(m1 - m2, 6)
    assert row.cohens_d == round(d, 6)


def test_cluster_purity_is_consistent_and_bounded(spark, sf_dir):
    """Membership covers the corpus exactly once; purity in (0, 1];
    majority count realizable from the (cell, label) contingency."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["ml_cluster_purity"](spark, sf_dir).collect()
    total = table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_members for r in rows) == total
    for r in rows:
        assert 0 < r.n_majority <= r.n_members
        assert r.purity == round(r.n_majority / r.n_members, 6)
        assert 0.0 < r.purity <= 1.0


def test_revenue_concentration_is_the_minimal_crossing(spark, sf_dir):
    """n_top must be the SMALLEST descending-rank prefix reaching 80%
    of revenue — replayed with exact decimals."""
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    row = all_queries()["agg_revenue_concentration"](spark, sf_dir) \
        .collect()[0]
    q = Decimal("0.01")
    per: dict[int, Decimal] = {}
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .collect()
    ):
        per[r.o_custkey] = per.get(r.o_custkey, Decimal(0)) + Decimal(
            repr(r.o_totalprice)
        ).quantize(q)
    revs = sorted(per.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(v for _, v in revs)
    cum = Decimal(0)
    n_top = None
    for i, (_, v) in enumerate(revs, start=1):
        cum += v
        if float(cum) >= 0.8 * float(total):
            n_top = i
            break
    assert row.n_top_customers == n_top
    assert row.n_customers == len(revs)
    assert row.top_fraction == round(n_top / len(revs), 6)


def test_js_divergence_bounds_and_token_totals(spark, sf_dir):
    """JS(base 2) ∈ (0, 1]; token totals match per-slice counts; and on
    this corpus the two language slices genuinely differ (JS > 0)."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    row = all_queries()["text_js_divergence"](spark, sf_dir).collect()[0]
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("lang") == "en").alias("en"),
        F.explode(F.split("text", " ")).alias("t"),
    )
    assert row.n_tokens_en == toks.filter("en").count()
    assert row.n_tokens_other == toks.filter("NOT en").count()
    assert row.vocab == toks.select("t").distinct().count()
    assert 0.0 < row.js_divergence <= 1.0


def test_fixed_width_roundtrip_preserves_values(spark, sf_dir):
    """Every nation row survives the positional pack/carve round trip,
    and the staged file is genuinely fixed-width (uniform line length,
    no delimiter)."""
    import os

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.queries.sources_sinks import _STAGE_ROOT, _tag
    from xlsx_to_database_spark.registry import all_queries

    got = sorted(
        map(tuple, all_queries()["csv_fixed_width_scan"](spark, sf_dir)
            .collect())
    )
    want = sorted(
        map(tuple, table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey").collect())
    )
    assert got == want
    path = os.path.join(_STAGE_ROOT, f"{_tag(sf_dir)}_nation_fixed.txt")
    with open(path) as fh:
        lens = {len(line.rstrip("\n")) for line in fh}
    assert lens == {22}


def test_bh_procedure_matches_sequential_replay(spark, sf_dir):
    """Discoveries must be exactly ranks <= k* = max{k: p(k) <= k·α/m},
    with p from the same A&S normal-tail approximation."""
    import math

    from xlsx_to_database_spark.registry import all_queries

    rows = sorted(
        all_queries()["stat_fdr_bh"](spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    m = len(rows)
    ps = [r.p for r in rows]
    assert ps == sorted(ps)
    kstar = max(
        (r.rank for r in rows if r.p <= r.rank * 0.05 / m), default=0
    )
    for r in rows:
        assert r.discovered == (r.rank <= kstar)
    # the A&S approximation itself: p in [0, 1]
    assert all(0.0 <= p <= 1.0 for p in ps)
    # sanity: phi-approx at z=0 gives p ≈ 1
    def sf(z):
        t = 1.0 / (1.0 + 0.2316419 * z)
        poly = t * (0.319381530 + t * (-0.356563782 + t * (
            1.781477937 + t * (-1.821255978 + t * 1.330274429))))
        return math.exp(-z * z / 2) / math.sqrt(2 * math.pi) * poly
    assert abs(2 * sf(0.0) - 1.0) < 1e-7


def test_learning_curve_subsets_are_nested(spark, sf_dir):
    """n_train halves (±rounding) with each fraction and each smaller
    subset is contained in the larger (key-mod nesting)."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = {
        r.inv_fraction: r
        for r in all_queries()["ml_learning_curve"](spark, sf_dir).collect()
    }
    o = table(spark, sf_dir, "orders")
    for f, r in rows.items():
        assert r.n_train == o.filter(F.col("o_orderkey") % f == 0).count()
        assert 0.0 <= r.accuracy <= 1.0
    assert rows[1].n_train > rows[2].n_train > rows[4].n_train \
        > rows[8].n_train


def test_currency_normalize_rates_are_exact(spark, sf_dir):
    """Base totals replayed with Decimal monthly rates."""
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.currency: (r.n_orders, r.local_total, r.base_total)
        for r in all_queries()["etl_currency_normalize"](spark, sf_dir)
        .collect()
    }
    q = Decimal("0.01")
    acc: dict[int, list] = {}
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice", "o_orderdate")
        .collect()
    ):
        cur = r.o_custkey % 3
        amt = Decimal(repr(r.o_totalprice)).quantize(q)
        mi = 12 * (r.o_orderdate.year - 1995) + r.o_orderdate.month - 1
        rate = Decimal(repr(round(1.0 + cur * 0.1 + mi * 0.01, 4)))
        n, lt, bt = acc.get(cur, (0, Decimal(0), Decimal(0)))
        acc[cur] = (n + 1, lt + amt, bt + (amt * rate).quantize(
            Decimal("0.000001")))
    for cur, (n, lt, bt) in acc.items():
        g = got[cur]
        assert g[0] == n and g[1] == round(float(lt), 2)
        assert abs(g[2] - round(float(bt), 2)) < 0.02


def test_burstiness_fano_replay_with_zero_docs(spark, sf_dir):
    """Fano factors must equal a replay that EXPLICITLY includes
    zero-count documents — pinning the analytic shortcut."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.tok: (r.df, r.cf, r.fano)
        for r in all_queries()["text_burstiness"](spark, sf_dir).collect()
    }
    docs = [
        r.text.split(" ")
        for r in table(spark, sf_dir, "documents").select("text").collect()
    ]
    n = len(docs)
    from collections import Counter

    per_doc = [Counter(toks) for toks in docs]
    vocab = set().union(*per_doc)
    for tok in vocab:
        counts = [c.get(tok, 0) for c in per_doc]
        df = sum(1 for x in counts if x)
        if df < 5:
            assert tok not in got
            continue
        cf = sum(counts)
        mean = cf / n
        var = (sum(x * x for x in counts) - cf * cf / n) / (n - 1)
        assert got[tok] == (df, cf, round(var / mean, 6))


def test_event_burstiness_cv_positive_and_replayed(spark, sf_dir):
    """CV per user vs a sequential replay (double second moment, by
    design)."""
    import math

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.user_id: (r.n_gaps, r.mean_gap_sec, r.cv)
        for r in all_queries()["event_burstiness"](spark, sf_dir).collect()
    }
    series: dict[int, list] = {}
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id")
        .collect()
    ):
        series.setdefault(r.user_id, []).append(r)
    for uid, rows in series.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        gaps = [
            int((b.ts - a.ts).total_seconds() * 1_000_000)
            for a, b in zip(rows, rows[1:])
        ]
        if len(gaps) < 2:
            assert uid not in got
            continue
        n = len(gaps)
        s1 = sum(gaps)
        s2 = 0.0
        for g in gaps:
            s2 += float(g) * g
        mean = s1 / n
        sd = math.sqrt((s2 - float(s1) * s1 / n) / (n - 1))
        assert got[uid] == (
            n, round(mean / 1e6, 6), round(sd / mean, 6)
        )
        assert got[uid][2] > 0


def test_parkinson_vol_matches_daily_range_replay(spark, sf_dir):
    from decimal import Decimal
    import math

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.l_suppkey: (r.n_days, r.parkinson_vol)
        for r in all_queries()["win_parkinson_vol"](spark, sf_dir).collect()
    }
    q = Decimal("0.01")
    daily: dict[tuple, list] = {}
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_shipdate", "l_extendedprice")
        .collect()
    ):
        daily.setdefault(
            (r.l_suppkey, r.l_shipdate.date()), []
        ).append(Decimal(repr(r.l_extendedprice)).quantize(q))
    per: dict[int, list] = {}
    for (sk, _), ps in daily.items():
        hi, lo = max(ps), min(ps)
        if hi > lo:
            per.setdefault(sk, []).append(
                Decimal(str(round(
                    math.log(float(hi) / float(lo)) ** 2, 10)))
            )
    for sk, terms in per.items():
        n = len(terms)
        vol = math.sqrt(float(sum(terms)) / (4 * math.log(2) * n))
        assert got[sk] == (n, round(vol, 6))


def test_multichar_delim_roundtrip(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = sorted(map(tuple, all_queries()["csv_multichar_delim_scan"](
        spark, sf_dir).collect()))
    want = sorted(map(tuple, table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey").collect()))
    assert got == want


def test_gdpr_erasure_is_physical_and_versioned(spark, sf_dir):
    """After the op: subjects absent from the latest snapshot, v0's
    pre-image files collected (reading v0 fails), and the audit log
    records the delete commit without retaining subject keys."""
    import json
    import os

    import pytest as _pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    from xlsx_to_database_spark.operators.txn_table import TxnTable
    from xlsx_to_database_spark.queries.sources_sinks import _tag
    from xlsx_to_database_spark.registry import all_queries

    all_queries()["etl_gdpr_erasure"](spark, sf_dir).collect()
    root = f"/tmp/spark_stage/{_tag(sf_dir)}_gdpr"
    tt = TxnTable(spark, root, "o_orderkey")
    assert tt.read().filter(F.col("o_custkey") % 97 == 0).count() == 0
    with _pytest.raises(AnalysisException):
        tt.read(version=0).count()
    m = tt.manifest(1)
    assert m["op"] == "delete"
    # The audit record must not retain WHO was erased: no subject-key
    # list or predicate anywhere in the manifest — only the protocol
    # fields and per-file stats metadata. (A substring check on the
    # erased key modulus is too brittle: legitimate per-file min/max
    # stats are arbitrary data values and may contain any digits —
    # round-7's multi-column col_stats made that a real flake.)
    # "schema" (round 10) is the column-TYPE registry and "read_schema"
    # (round 11) the pinned scan schema: both hold physical column
    # name -> type string pairs only — structurally incapable of
    # retaining subject keys, audit-safe by construction (asserted,
    # including that no OTHER key appears).
    assert set(m) == {
        "version", "op", "stats_col", "files", "schema", "read_schema",
    }
    assert set(m["schema"]) == {
        "o_orderkey", "o_custkey", "o_orderstatus", "price"
    } and set(m["schema"].values()) <= {
        "bigint", "string", "decimal(18,2)"
    }, m["schema"]
    assert all(
        isinstance(n, str) and isinstance(ty, str)
        for n, ty in m["read_schema"]
    ) and {n for n, _ in m["read_schema"]} == set(m["schema"])
    allowed_entry_fields = {"path", "rows", "min", "max", "col_stats"}
    for e in m["files"]:
        assert set(e) <= allowed_entry_fields, e
    assert "custkey % 97" not in json.dumps(m)


def test_recall_report_matches_set_intersections(spark, sf_dir):
    """Recall rows must equal |approx ∩ exact| / 10 computed from the
    three underlying (attested) ops directly."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.operators import similarity as S
    from xlsx_to_database_spark.registry import all_queries

    e = table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"))
    exact = {r.vec_id for r in S.cosine_topk(e, qv, k=10).collect()}
    lsh = {r.vec_id for r in S.lsh_topk(e, qv, k=10).collect()}
    ivf = {r.vec_id for r in S.ivf_topk(e, k=10, query_id=0).collect()}
    got = {
        r.method: (r.n_hits, r.recall)
        for r in all_queries()["sim_recall_report"](spark, sf_dir).collect()
    }
    assert got["lsh"] == (len(lsh & exact), round(len(lsh & exact) / 10, 2))
    assert got["ivf"] == (len(ivf & exact), round(len(ivf & exact) / 10, 2))
    assert got["ivf"][0] >= 5, "IVF recall collapsed"
    # All ten index variants publish through the report; the two PQ
    # serving paths cannot beat the IVF candidate set they prune, and
    # a collapse to 0 would mean a dead codebook.
    assert set(got) == {"lsh", "ivf", "ivf_matrix", "ivf_trained",
                        "ivfpq", "ivfpq_residual", "sq", "ivfsq",
                        "pq_refine", "hamming", "binary_rerank"}
    assert got["ivf_trained"][0] >= 1, ("trained IVF collapsed", got)
    for m in ("ivfpq", "ivfpq_residual"):
        assert 1 <= got[m][0] <= got["ivf_matrix"][0], (m, got)
    # SQ is the near-exact rung: 8-bit/dimension against its own
    # (L2) baseline should recover nearly all of the exact top-10.
    assert got["sq"][0] >= 8, ("SQ recall collapsed", got)
    # The exact rerank dominates the plain ADC top-10 BY CONSTRUCTION:
    # exact-L2-top-10 members inside the R=100 shortlist outrank every
    # non-member in the rerank (their exact distance is smaller by
    # definition, and the id tie-break is the same one the baseline
    # used), and ADC's top-10 is a subset of the shortlist — so every
    # ADC hit survives. Measured: ADC alone 1-3 hits, refine 6-7.
    from xlsx_to_database_spark.queries.llm_ops import (
        _quantized_embeddings as _q4,
    )

    e4 = _q4(spark, sf_dir)
    ql2 = [float(x) for x in e4.filter(F.col("vec_id") == 0)
           .select("embedding").collect()[0][0]]
    exact_l2 = {
        r.vec_id
        for r in e4.select(
            "vec_id",
            F.expr(f"round({S._sq_l2_sql('embedding', ql2)}, 6)").alias("d"))
        .orderBy("d", "vec_id").limit(10).collect()
    }
    cb = S.pq_train_codebook(e4, 4, 8)
    adc10 = {r.vec_id
             for r in S.pq_adc_topk(e4, 10, codebook=cb).collect()}
    assert got["pq_refine"][0] >= len(adc10 & exact_l2), got
    assert got["pq_refine"][0] >= 4, ("refine shortlist broken", got)
    # The binary cascade re-ranks with exact cosine, so it dominates
    # its own shortlist-only stage against the cosine baseline.
    assert got["binary_rerank"][0] >= got["hamming"][0], got


def test_cost_opt_marks_the_true_argmin(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["ml_threshold_cost_opt"](spark, sf_dir).collect()
    costs = {r.threshold: r.expected_cost for r in rows}
    best = min(costs.items(), key=lambda kv: (kv[1], kv[0]))[0]
    for r in rows:
        assert r.expected_cost == round(1.0 * r.fp + 8.0 * r.fn, 1)
        assert r.is_optimal == (r.threshold == best)
    assert sum(r.is_optimal for r in rows) == 1


def test_double_charge_pairs_replayed(spark, sf_dir):
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        (r.first_orderkey, r.second_orderkey): r.gap_days
        for r in all_queries()["dq_double_charge"](spark, sf_dir).collect()
    }
    series: dict[int, list] = {}
    q = Decimal("0.01")
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .collect()
    ):
        series.setdefault(r.o_custkey, []).append(r)
    want = {}
    for rows_ in series.values():
        rows_.sort(key=lambda r: (r.o_orderdate, r.o_orderkey))
        for a, b in zip(rows_, rows_[1:]):
            gap = b.o_orderdate - a.o_orderdate
            pa = Decimal(repr(a.o_totalprice)).quantize(q)
            amt = Decimal(repr(b.o_totalprice)).quantize(q)
            if gap.total_seconds() < 14 * 86400 and \
                    20 * abs(amt - pa) <= pa:
                want[(a.o_orderkey, b.o_orderkey)] = gap.days
        # only consecutive pairs are candidates by design
    assert got == want and got


def test_alert_throttle_matches_greedy_replay(spark, sf_dir):
    """Emissions must equal the sequential greedy walk (the anchored
    cooldown semantics gaps-and-islands cannot express in general)."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = [
        (r.user_id, r.ts, r.event_id)
        for r in all_queries()["event_alert_throttle"](spark, sf_dir)
        .collect()
    ]
    series: dict[int, list] = {}
    for r in (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("user_id", "ts", "event_id")
        .collect()
    ):
        series.setdefault(r.user_id, []).append(r)
    want = []
    session_starts = 0
    for uid in sorted(series):
        rows_ = sorted(series[uid], key=lambda r: (r.ts, r.event_id))
        last = None
        prev = None
        for r in rows_:
            if last is None or (r.ts - last).total_seconds() >= 600:
                want.append((uid, r.ts, r.event_id))
                last = r.ts
            if prev is None or (r.ts - prev).total_seconds() >= 600:
                session_starts += 1
            prev = r.ts
    assert got == want
    # NOTE: at tiny SFs the error stream can be sparse enough that the
    # greedy walk and session-gap logic coincide; the replay equality
    # above is the semantic pin, not the (data-dependent) difference.
    assert session_starts >= len(got)


def test_dau_mau_bounds_and_replay(spark, sf_dir):
    """Stickiness ∈ (0, 1]; avg_dau and mau replayed from raw events."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["event_dau_mau"](spark, sf_dir).collect()
    ev = table(spark, sf_dir, "events").select("user_id", "ts").collect()
    months: dict = {}
    for r in ev:
        mon = r.ts.date().replace(day=1)
        d = r.ts.date()
        months.setdefault(mon, {"days": {}, "users": set()})
        months[mon]["days"].setdefault(d, set()).add(r.user_id)
        months[mon]["users"].add(r.user_id)
    assert len(rows) == len(months)
    for r in rows:
        m = months[r.mon]
        daus = [len(u) for u in m["days"].values()]
        assert r.n_days == len(daus)
        assert r.avg_dau == round(sum(daus) / len(daus), 4)
        assert r.mau == len(m["users"])
        assert 0.0 < r.stickiness <= 1.0


def test_iterator_udf_initializes_once_per_task(spark, sf_dir):
    """The iterator form's init section must run once per TASK, not per
    Arrow batch — the amortization the surface exists for."""
    from xlsx_to_database_spark.queries.udf_surface import udf_pandas_iter
    from xlsx_to_database_spark.registry import all_queries

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
    try:
        all_queries()["udf_pandas_iter"](spark, sf_dir).collect()
        init_acc, batch_acc = udf_pandas_iter._accs
        assert init_acc.value >= 1
        assert batch_acc.value > init_acc.value, (
            "with 500-row Arrow batches there must be more batches "
            "than tasks — otherwise the iterator seam amortized nothing"
        )
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_weibull_fit_matches_decimal_regression_replay(spark, sf_dir):
    import math
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.grp: (r.n, r.shape_k, r.scale_lambda)
        for r in all_queries()["stat_weibull_fit"](spark, sf_dir).collect()
    }
    groups: dict[str, list] = {}
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_orderkey",
                "l_linenumber")
        .collect()
    ):
        groups.setdefault(r.l_returnflag, []).append(r)
    for g, rows in groups.items():
        rows.sort(key=lambda r: (r.l_extendedprice, r.l_orderkey,
                                 r.l_linenumber))
        n = len(rows)
        sx = sy = sxy = sxx = Decimal(0)
        for i, r in enumerate(rows, start=1):
            x = Decimal(str(round(math.log(r.l_extendedprice), 8)))
            f = (i - 0.3) / (n + 0.4)
            yv = Decimal(str(round(math.log(-math.log(1 - f)), 8)))
            sx += x
            sy += yv
            sxy += x * yv
            sxx += x * x
        slope = (n * float(sxy) - float(sx) * float(sy)) / (
            n * float(sxx) - float(sx) * float(sx)
        )
        intercept = (float(sy) - slope * float(sx)) / n
        lam = math.exp(-intercept / slope)
        assert got[g] == (n, round(slope, 6), round(lam, 4))
        assert got[g][1] > 0 and got[g][2] > 0


def test_percent_of_parent_shares_sum_to_one(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["agg_percent_of_parent"](spark, sf_dir).collect()
    by_region: dict[str, float] = {}
    total = 0.0
    for r in rows:
        by_region[r.region] = by_region.get(r.region, 0.0) + r.pct_of_region
        total += r.pct_of_total
    assert all(abs(s - 1.0) < 1e-4 for s in by_region.values())
    assert abs(total - 1.0) < 1e-4
    assert len({(r.region, r.nation) for r in rows}) == len(rows)


def test_mmr_matches_greedy_replay_and_diversifies(spark, sf_dir):
    """Selections must equal the greedy MMR walk over the same pool and
    the first pick must be the relevance argmax."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.operators import similarity as S
    from xlsx_to_database_spark.registry import all_queries

    got = [
        (r.rank, r.vec_id)
        for r in sorted(
            all_queries()["sim_diversity_mmr"](spark, sf_dir).collect(),
            key=lambda r: r.rank,
        )
    ]
    e = table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"))
    pool = {r.vec_id: r.cos_sim for r in S.cosine_topk(e, qv, k=20).collect()}
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id").isin(list(pool))).collect()
    }

    def cos(u, v):
        du = sum(a * a for a in u) ** 0.5
        dv = sum(a * a for a in v) ** 0.5
        return round(sum(a * b for a, b in zip(u, v)) / (du * dv), 6)

    picked = []
    while len(picked) < 5:
        best = max(
            (x for x in pool if x not in picked),
            key=lambda x: (
                0.7 * pool[x]
                - 0.3 * max((cos(vecs[x], vecs[p]) for p in picked),
                            default=0.0),
                -x,
            ),
        )
        picked.append(best)
    assert [v for _, v in got] == picked
    assert got[0][1] == max(pool, key=lambda x: (pool[x], -x))


def test_ljung_box_matches_python_acf_replay(spark, sf_dir):
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = sorted(
        all_queries()["stat_ljung_box"](spark, sf_dir).collect(),
        key=lambda r: r.lag_k,
    )
    daily: dict = {}
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_orderdate", "o_totalprice")
        .collect()
    ):
        d = r.o_orderdate.date()
        daily[d] = daily.get(d, Decimal(0)) + Decimal(
            repr(r.o_totalprice)
        ).quantize(Decimal("0.01"))
    xs = [round(float(v), 4) for _, v in sorted(daily.items())]
    n = len(xs)
    m = sum(xs) / n
    c0 = float(sum(
        Decimal(str(round((x - m) * (x - m), 6))) for x in xs
    ))
    q = Decimal(0)
    for r in rows:
        k = r.lag_k
        ck = float(sum(
            Decimal(str(round((xs[i] - m) * (xs[i - k] - m), 6)))
            for i in range(k, n)
        ))
        acf = round(ck / c0, 8)
        assert r.acf == round(acf, 6)
        q += Decimal(str(round(n * (n + 2) * acf * acf / (n - k), 8)))
        assert r.q_stat == round(float(q), 6)


def test_yoy_growth_aligns_lag12_exactly(spark, sf_dir):
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = {
        r.mon: r
        for r in all_queries()["agg_yoy_growth"](spark, sf_dir).collect()
    }
    q = Decimal("0.01")
    monthly: dict = {}
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_orderdate", "o_totalprice")
        .collect()
    ):
        mon = r.o_orderdate.date().replace(day=1)
        monthly[mon] = monthly.get(mon, Decimal(0)) + Decimal(
            repr(r.o_totalprice)).quantize(q)
    mons = sorted(monthly)
    # gapless month series is a precondition the op documents
    for a, b in zip(mons, mons[1:]):
        assert (b.year - a.year) * 12 + b.month - a.month == 1
    for i, mon in enumerate(mons):
        if i >= 12:
            prior = monthly[mons[i - 12]]
            r = rows[mon]
            assert r.revenue == round(float(monthly[mon]), 2)
            assert r.revenue_prior_year == round(float(prior), 2)
            assert r.yoy_pct == round(
                100 * (float(monthly[mon]) / float(prior) - 1), 4
            )
        else:
            assert mon not in rows


def test_format_funcs_render_expected_shapes(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["str_format_funcs"](spark, sf_dir).collect()
    for r in rows:
        assert len(r.padded_key) == 4 and r.padded_key.endswith(
            str(r.n_nationkey))
        assert f"(region " in r.label and r.label.endswith(")")
        if r.n_nationkey > 0:
            assert "," in r.grouped  # thousands grouping present
        assert len(r.fixed8) == 8


def test_fertility_replays_both_tokenizations(spark, sf_dir):
    import re

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.lang: (r.n_docs, r.n_words, r.n_subwords, r.fertility)
        for r in all_queries()["text_tokenizer_fertility"](spark, sf_dir)
        .collect()
    }
    ws = re.compile(r"\S+")
    bpe = re.compile(r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+")
    acc: dict[str, list] = {}
    for r in (
        table(spark, sf_dir, "documents").select("lang", "text").collect()
    ):
        d, w, s = acc.get(r.lang, (0, 0, 0))
        acc[r.lang] = (
            d + 1, w + len(ws.findall(r.text)), s + len(bpe.findall(r.text))
        )
    for lang, (d, w, s) in acc.items():
        assert got[lang] == (d, w, s, round(s / w, 6))
        assert got[lang][3] >= 1.0  # subwords never fewer than words


def test_power_analysis_formula_replay(spark, sf_dir):
    import math
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    row = all_queries()["stat_power_analysis"](spark, sf_dir).collect()[0]
    q = Decimal("0.01")
    arms: dict[bool, list] = {True: [], False: []}
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    ):
        arms[r.o_orderpriority == "1-URGENT"].append(
            Decimal(repr(r.o_totalprice)).quantize(q))
    n1, n2 = len(arms[True]), len(arms[False])
    a1, a2 = sum(arms[True]), sum(arms[False])
    b1 = sum(v * v for v in arms[True])
    b2 = sum(v * v for v in arms[False])
    m1, m2 = float(a1) / n1, float(a2) / n2
    ss = (float(b1) - float(a1) ** 2 / n1) + (float(b2) - float(a2) ** 2 / n2)
    sd = math.sqrt(ss / (n1 + n2 - 2))
    za, zb = 1.959963984540054, 0.8416212335729143
    n_needed = math.ceil(2 * ((za + zb) * sd / (m1 - m2)) ** 2)
    assert row.observed_diff == round(m1 - m2, 4)
    assert row.n_per_arm_needed == n_needed
    assert row.n_observed == n1 + n2


def test_reg_metrics_bounds_and_consistency(spark, sf_dir):
    """RMSE ≥ MAE always; in-sample OLS R² ∈ [0, 1]."""
    from xlsx_to_database_spark.registry import all_queries

    row = all_queries()["ml_reg_metrics"](spark, sf_dir).collect()[0]
    assert row.rmse >= row.mae > 0
    # this generator draws quantity and price INDEPENDENTLY, so the
    # honest expectation is R^2 near zero (still >= 0: OLS in-sample
    # can't beat the mean-only model downward)
    assert 0.0 <= row.r2 <= 1.0


def test_log_histogram_bins_are_powers_of_two(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["stat_histogram_log"](spark, sf_dir).collect()
    o = table(spark, sf_dir, "orders")
    assert sum(r.n for r in rows) == o.filter("o_totalprice > 0").count()
    for r in rows:
        assert r.bin_lo == 2.0 ** r.log2_bin
    # every order value must lie inside its claimed doubling interval
    import math

    for r in (
        o.select("o_totalprice").limit(200).collect()
    ):
        b = math.floor(math.log(r.o_totalprice, 2))
        assert 2 ** b <= r.o_totalprice < 2 ** (b + 1)


def test_table_history_is_append_only_and_shaped(spark, sf_dir):
    from xlsx_to_database_spark.registry import all_queries

    rows = sorted(
        all_queries()["table_history"](spark, sf_dir).collect(),
        key=lambda r: r.version,
    )
    assert [(r.version, r.op) for r in rows] == [
        (0, "create"), (1, "append"), (2, "delete"), (3, "compact")
    ]
    assert [r.n_files for r in rows] == [4, 6, 6, 2]
    assert [r.is_latest for r in rows] == [False, False, False, True]


def test_lpa_matches_synchronous_python_replay(spark, sf_dir):
    """Final community sizes must equal a sequential synchronous LPA
    replay (most-frequent neighbor label, ties to the smaller id, 4
    rounds) over the same strong-tie edges."""
    from collections import Counter
    from itertools import combinations

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.community: r.n_members
        for r in all_queries()["graph_lpa_communities"](spark, sf_dir)
        .collect()
    }
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    by_order: dict[int, set] = {}
    for r in li:
        by_order.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    pc: dict[tuple, int] = {}
    for parts in by_order.values():
        for u, v in combinations(sorted(parts), 2):
            pc[(u, v)] = pc.get((u, v), 0) + 1
    adj: dict[int, list] = {}
    for (u, v), m in pc.items():
        if m >= 2:
            adj.setdefault(u, []).append(v)
            adj.setdefault(v, []).append(u)
    lbl = {n: n for n in adj}
    for _ in range(4):
        nxt = {}
        for n, neigh in adj.items():
            cnt = Counter(lbl[x] for x in neigh)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            nxt[n] = best
        lbl = nxt
    want = Counter(lbl.values())
    assert got == dict(want)


def test_entropy_rate_bounds_and_replay(spark, sf_dir):
    import math
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    row = all_queries()["stat_entropy_rate"](spark, sf_dir).collect()[0]
    series: dict[int, list] = {}
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    ):
        series.setdefault(r.user_id, []).append(r)
    counts: dict[tuple, int] = {}
    types = set()
    for rows_ in series.values():
        rows_.sort(key=lambda r: (r.ts, r.event_id))
        for a, b in zip(rows_, rows_[1:]):
            counts[(a.event_type, b.event_type)] = counts.get(
                (a.event_type, b.event_type), 0) + 1
        types.update(r.event_type for r in rows_)
    t = sum(counts.values())
    row_n: dict[str, int] = {}
    for (p, _), n in counts.items():
        row_n[p] = row_n.get(p, 0) + n
    h = sum(
        Decimal(str(round(
            -(n / t) * math.log(n / row_n[p]) / math.log(2), 10)))
        for (p, _), n in counts.items()
    )
    assert row.n_transitions == len(counts)
    assert row.entropy_rate_bits == round(float(h), 6)
    assert 0.0 < row.entropy_rate_bits <= math.log2(len(types))


def test_waterfall_bridge_closes_to_the_cent(spark, sf_dir):
    from decimal import Decimal

    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["agg_waterfall_decomp"](spark, sf_dir).collect()
    total_a = sum(Decimal(str(r.rev_1997)) for r in rows)
    total_b = sum(Decimal(str(r.rev_1998)) for r in rows)
    delta = sum(Decimal(str(r.delta)) for r in rows)
    assert delta == total_b - total_a  # the bridge closes exactly
    shares = sum(r.share_of_change for r in rows)
    assert abs(shares - 1.0) < 1e-4
    for r in rows:
        assert Decimal(str(r.delta)) == (
            Decimal(str(r.rev_1998)) - Decimal(str(r.rev_1997))
        )


def test_underwater_runs_match_sequential_replay(spark, sf_dir):
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.l_suppkey: (r.max_underwater_run, r.n_spells)
        for r in all_queries()["win_underwater_duration"](spark, sf_dir)
        .collect()
    }
    series: dict[int, list] = {}
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
                "l_extendedprice")
        .collect()
    ):
        series.setdefault(r.l_suppkey, []).append(r)
    q = Decimal("0.01")
    for sk, rows_ in series.items():
        rows_.sort(key=lambda r: (r.l_shipdate, r.l_orderkey,
                                  r.l_linenumber))
        peak = None
        runs = []
        cur = 0
        for r in rows_:
            p = Decimal(repr(r.l_extendedprice)).quantize(q)
            peak = p if peak is None or p > peak else peak
            if p < peak:
                cur += 1
            else:
                if cur:
                    runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        if runs:
            assert got[sk] == (max(runs), len(runs))
        else:
            assert sk not in got


def test_optimistic_retry_preserves_both_writers(spark, sf_dir):
    """After the staged race: version history is create/append/append,
    both writers' key ranges present, no duplicate keys."""
    from xlsx_to_database_spark.operators.txn_table import TxnTable
    from xlsx_to_database_spark.queries.sources_sinks import _tag
    from xlsx_to_database_spark.registry import all_queries

    all_queries()["table_optimistic_retry"](spark, sf_dir).collect()
    tt = TxnTable(
        spark, f"/tmp/spark_stage/{_tag(sf_dir)}_table_retry", "o_orderkey"
    )
    assert [tt.manifest(v)["op"] for v in tt.versions()] == [
        "create", "append", "append"
    ]
    out = tt.read()
    assert out.filter(F.col("o_orderkey") >= 7000000).filter(
        F.col("o_orderkey") < 8000000).count() > 0   # racer's rows
    assert out.filter(F.col("o_orderkey") >= 8000000).count() > 0  # A's rows
    assert out.count() == out.select("o_orderkey").distinct().count()


def test_code_detect_is_honest_on_prose(spark, sf_dir):
    import re

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["text_code_detect"](spark, sf_dir).collect()
    src = {
        r.doc_id: r.text
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text").collect()
    }
    pat = re.compile(r"[{};()=<>\[\]]")
    for r in rows:
        n = len(pat.findall(src[r.doc_id]))
        assert r.n_symbols == n
        assert r.symbol_ratio == round(n / len(src[r.doc_id]), 6)
        assert not r.looks_like_code  # all-prose corpus


def test_mcnemar_counts_discordant_cells(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    row = all_queries()["stat_mcnemar"](spark, sf_dir).collect()[0]
    b = c = 0
    for r in (
        table(spark, sf_dir, "orders")
        .select("o_totalprice", "o_orderpriority")
        .collect()
    ):
        y = r.o_orderpriority in ("1-URGENT", "2-HIGH")
        ar = (r.o_totalprice >= 150000) == y
        br = (r.o_totalprice >= 100000) == y
        b += ar and not br
        c += br and not ar
    assert (row.b, row.c) == (b, c)
    assert row.chi2 == round((b - c) ** 2 / (b + c), 6)


def test_bayes_prob_is_phi_of_z(spark, sf_dir):
    import math

    from xlsx_to_database_spark.registry import all_queries

    row = all_queries()["stat_bayes_prob"](spark, sf_dir).collect()[0]

    def sf(z):
        t = 1.0 / (1.0 + 0.2316419 * z)
        poly = t * (0.319381530 + t * (-0.356563782 + t * (
            1.781477937 + t * (-1.821255978 + t * 1.330274429))))
        return math.exp(-z * z / 2) / math.sqrt(2 * math.pi) * poly

    z = row.z
    want = 1 - sf(z) if z >= 0 else sf(-z)
    assert abs(row.p_urgent_higher - round(want, 6)) <= 1e-6
    assert 0.0 <= row.p_urgent_higher <= 1.0


def test_sankey_paths_replay(spark, sf_dir):
    from collections import Counter

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = [
        (r.a, r.b, r.c, r.n)
        for r in all_queries()["event_path_sankey"](spark, sf_dir).collect()
    ]
    series: dict[int, list] = {}
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    ):
        series.setdefault(r.user_id, []).append(r)
    cnt: Counter = Counter()
    for rows_ in series.values():
        rows_.sort(key=lambda r: (r.ts, r.event_id))
        types = [r.event_type for r in rows_]
        for i in range(2, len(types)):
            cnt[(types[i - 2], types[i - 1], types[i])] += 1
    want = sorted(
        ((a, b, c, n) for (a, b, c), n in cnt.items()),
        key=lambda t: (-t[3], t[0], t[1], t[2]),
    )[:20]
    assert got == want


def test_walks_follow_edges_and_the_hash_rule(spark, sf_dir):
    """Every consecutive pair is a real edge and each hop is exactly
    the hash-designated neighbor; one walk per start node."""
    from itertools import combinations

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["graph_walk_sample"](spark, sf_dir).collect()
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    by_order: dict[int, list] = {}
    for r in li:
        by_order.setdefault(r.l_orderkey, []).append(r.l_partkey)
    pc: dict[tuple, int] = {}
    # row-pair counting to match the op's edge rule
    for parts in by_order.values():
        for u, v in combinations(sorted(parts), 2):
            if u != v:
                pc[(u, v)] = pc.get((u, v), 0) + 1
    adj: dict[int, list] = {}
    for (u, v), m in pc.items():
        if m >= 2:
            adj.setdefault(u, []).append(v)
            adj.setdefault(v, []).append(u)
    for n in adj:
        adj[n].sort()
    assert len(rows) == len(adj)  # one walk per start node
    starts = {r.s0 for r in rows}
    assert starts == set(adj)
    for r in rows:
        node = r.s0
        for step, nxt in enumerate((r.s1, r.s2, r.s3), start=1):
            neigh = adj[node]
            want = neigh[(node * 2654435761 + step * 40503) % len(neigh)]
            assert nxt == want
            node = nxt


def test_holt_matches_sequential_recurrence(spark, sf_dir):
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.l_suppkey: (r.n_obs, r.level, r.trend, r.forecast)
        for r in all_queries()["win_holt_linear"](spark, sf_dir).collect()
    }
    series: dict[int, list] = {}
    for r in (
        table(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
                "l_extendedprice")
        .collect()
    ):
        series.setdefault(r.l_suppkey, []).append(r)
    for sk, rows_ in series.items():
        rows_.sort(key=lambda r: (r.l_shipdate, r.l_orderkey,
                                  r.l_linenumber))
        xs = [r.l_extendedprice for r in rows_]
        if len(xs) < 2:
            assert sk not in got
            continue
        level, trend = xs[0], xs[1] - xs[0]
        for x in xs[1:]:
            prev = level
            level = 0.3 * x + 0.7 * (level + trend)
            trend = 0.1 * (level - prev) + 0.9 * trend
        assert got[sk] == (
            len(xs), round(level, 6), round(trend, 6),
            round(level + trend, 6),
        )


def test_basket_profile_conserves_orders_and_value(spark, sf_dir):
    from decimal import Decimal

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["agg_basket_profile"](spark, sf_dir).collect()
    li = table(spark, sf_dir, "lineitem")
    assert sum(r.n_orders for r in rows) == \
        li.select("l_orderkey").distinct().count()
    assert sum(r.n_orders * r.n_lines for r in rows) == li.count()
    total = sum(Decimal(str(r.total_value)) for r in rows)
    want = li.select(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double"), 2,
        ).alias("t")
    ).collect()[0].t
    assert float(total) == want


def test_autocomplete_is_the_prefix_argmax(spark, sf_dir):
    from collections import Counter

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    got = {
        r.prefix: (r.top_completion, r.frequency)
        for r in all_queries()["text_autocomplete_index"](spark, sf_dir)
        .collect()
    }
    cnt: Counter = Counter()
    for r in table(spark, sf_dir, "documents").select("text").collect():
        for t in r.text.split(" "):
            if len(t) >= 2:
                cnt[t] += 1
    best: dict[str, tuple] = {}
    for tok, f in cnt.items():
        p = tok[:2]
        cur = best.get(p)
        if cur is None or f > cur[1] or (f == cur[1] and tok < cur[0]):
            best[p] = (tok, f)
    assert got == best


def test_new_vs_returning_identity_holds(spark, sf_dir):
    """new + returning = monthly actives; first month is all-new; every
    user is new exactly once across all months."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = sorted(
        all_queries()["event_new_vs_returning"](spark, sf_dir).collect(),
        key=lambda r: r.mon,
    )
    ev = table(spark, sf_dir, "events")
    assert rows[0].returning_users == 0  # first month is all-new
    total_new = sum(r.new_users for r in rows)
    assert total_new == ev.select("user_id").distinct().count()
    for r in rows:
        active = (
            ev.filter(F.date_trunc("month", "ts").cast("date") == r.mon)
            .select("user_id").distinct().count()
        )
        assert r.new_users + r.returning_users == active


def test_cluster_profile_accounts_every_document(spark, sf_dir):
    """Σ n_docs over sizes = corpus size; removable = docs − clusters;
    singleton clusters exist (unique docs)."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.registry import all_queries

    rows = all_queries()["dedup_cluster_profile"](spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    total_clusters = sum(r.n_clusters for r in rows)
    assert sum(r.n_removable for r in rows) == n_docs - total_clusters
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
        assert r.n_removable == (r.cluster_size - 1) * r.n_clusters
    singleton = next(r for r in rows if r.cluster_size == 1)
    assert singleton.n_clusters > 0  # unique docs exist at every SF


def test_ivfpq_serve_refuses_subspace_mismatch(spark, sf_dir, tmp_path):
    """Round-12 ADVICE #1: the ADC sum's subspace count is derived
    from the index metadata's codebook — a caller-passed n_subspaces
    that disagrees must REFUSE, not silently sum a prefix of the
    per-subspace tables (a wrong ranking with no error)."""
    import pytest as _pytest

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.operators import similarity as S

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double"), 4)
        ).alias("embedding"),
    )
    path = str(tmp_path / "ivfpq_idx")
    meta = S.ivfpq_index_build(e, path)
    q = [float(x) for x in e.filter(F.col("vec_id") == 0)
         .select("embedding").collect()[0][0]]
    with _pytest.raises(ValueError, match="disagrees with the index"):
        S.ivfpq_index_serve(spark, path, meta, q, k=10, n_subspaces=2)
    # matching value passes the cross-check; derived default likewise
    a = [r.vec_id for r in S.ivfpq_index_serve(
        spark, path, meta, q, k=10, n_subspaces=4).collect()]
    b = [r.vec_id for r in S.ivfpq_index_serve(
        spark, path, meta, q, k=10).collect()]
    assert a == b and len(a) == 10


def test_ivfpq_residual_refuses_sparse_init_range(spark, sf_dir):
    """Round-12 ADVICE #3: the residual init contract requires ids
    n_centroids+1..n_centroids+n_codes to exist — a sparse range must
    raise a diagnostic ValueError naming it, not IndexError (or a
    silently undersized codebook)."""
    import pytest as _pytest

    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.operators import similarity as S

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double"), 4)
        ).alias("embedding"),
    ).filter(~F.col("vec_id").between(11, 13))
    with _pytest.raises(ValueError, match=r"residual init requires"):
        S.ivfpq_residual_topk(e, k=10)


def test_minhash_covers_exact_shingle_pairs_at_sf01(spark):
    """Round-12 verdict #4, second half: the scale-path claim —
    "the exact Jaccard join is the ORACLE instrument; dedup_minhash
    is what runs at 100 TB" — is only honest if the banded candidates
    cover the exact pairs AT SCALE, not just at the sf0.001 unit
    fixture (test_minhash_recall_vs_exact_shingle_jaccard, whose
    driver-side O(n^2) shingle loop cannot reach 20k docs). The exact
    side here is the SAME measure MinHash estimates — word-TRIGRAM-
    shingle Jaccard (token-SET Jaccard is a different measure: at
    sf0.1 the corpus has ~1M token-set-similar pairs that are not
    shingle-similar, so pinning against dedup_near would compare two
    different statistics) — computed DISTRIBUTED by reusing the
    prefix-filtered jaccard_pairs join over shingle-words. Both sides
    are Spark jobs, so this pin scales with the corpus."""
    from xlsx_to_database_spark.catalog import table

    sf01 = "/root/testdata/sf0.1"
    docs = table(spark, sf01, "documents")
    # One atomic "word" per trigram shingle (tokens joined by '_'),
    # space-joined back into a text column jaccard_pairs can consume.
    t = F.split(F.col("text"), " ")
    width = F.greatest(F.size(t) - 2, F.lit(0))
    pair12 = F.zip_with(
        F.slice(t, 1, width), F.slice(t, 2, width),
        lambda a, b: F.concat_ws("_", a, b),
    )
    grams = F.zip_with(
        pair12, F.slice(t, 3, width),
        lambda p, c: F.concat_ws("_", p, c),
    )
    shingled = docs.select(
        "doc_id",
        F.array_join(F.array_distinct(grams), " ").alias("text"),
    ).filter(F.size(t) >= 3)
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(shingled, threshold=0.9).collect()
    }
    assert exact, "sf0.1 lost its near-dup shingle clusters — pin vacuous"
    cand = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs).collect()
    }
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.95, (
        f"minhash candidates cover only {recall:.3f} of the "
        f"{len(exact)} exact shingle-Jaccard pairs at sf0.1 — the "
        f"scale-path claim breaks"
    )


def test_sq_codes_bounded_and_self_distance_zero(spark, sf_dir):
    """SQ8 invariants: every code lies in [0, 255]; at least one
    dimension reaches each extreme (the trained bounds are tight by
    construction); the query's own dequantization distance is the
    global minimum, so the asymmetric top-1 is the query itself; and
    IVFSQ's ranking within its probed cells agrees with the corpus-
    wide SQ ranking restricted to those candidates (the pruning must
    never change relative order, only candidate membership)."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.operators import similarity as S

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double"), 4)
        ).alias("embedding"),
    )
    enc = S.sq_encode(e)
    stats = enc.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
    ).collect()[0]
    assert stats.lo == 0 and stats.hi == 255, (stats.lo, stats.hi)

    top = S.sq_adc_topk(e, k=3, query_id=0).collect()
    assert top[0].vec_id == 0, "query's own codes must rank first"
    assert top[0].sq_dist < top[-1].sq_dist or len(top) == 1
    # self-distance is pure quantization error: tiny but >= 0
    assert 0.0 <= top[0].sq_dist < 0.01, top[0].sq_dist

    full = {r.vec_id: r.sq_dist
            for r in S.sq_adc_topk(e, k=500, query_id=0).collect()}
    ivf = S.ivfsq_topk(e, k=10, query_id=0).collect()
    for r in ivf:
        assert full[r.vec_id] == r.sq_dist, (
            "IVF pruning changed a candidate's SQ distance"
        )


def test_binary_words_match_python_fold_and_hamming_axioms(spark, sf_dir):
    """The sign-bit pack is an exact integer contract: each word must
    equal the MSB-first Python fold of the same 32 signs, and the
    Hamming distance must satisfy identity (self = 0) and the
    popcount-of-XOR definition replayed in Python."""
    from xlsx_to_database_spark.operators import similarity as S
    from xlsx_to_database_spark.queries.llm_ops import (
        _quantized_embeddings,
    )

    e = _quantized_embeddings(spark, sf_dir)
    enc = {r.vec_id: (r.w0, r.w1)
           for r in S.binary_encode(e).collect()}
    vecs = {r.vec_id: list(r.embedding)
            for r in e.limit(50).collect()}
    for vid, v in vecs.items():
        for w in range(2):
            acc = 0
            for x in v[32 * w:32 * w + 32]:
                acc = acc * 2 + (1 if x > 0 else 0)
            assert enc[vid][w] == acc, (vid, w)
            assert 0 <= acc < 2 ** 32
    top = S.hamming_topk(e, k=5, query_id=0).collect()
    assert top[0].vec_id == 0 and top[0].hamming == 0, top[0]
    q0, q1 = enc[0]
    full = {r.vec_id: r.hamming
            for r in S.hamming_topk(e, k=500, query_id=0).collect()}
    for vid, (w0, w1) in list(enc.items())[:50]:
        expect = bin((w0 ^ q0)).count("1") + bin((w1 ^ q1)).count("1")
        assert full[vid] == expect, (vid, full[vid], expect)


def test_sq_serve_matches_inline_sweep_and_prunes(spark, sf_dir, tmp_path):
    """The persisted IVF+SQ pair's round-trip claim, checked directly:
    serve-from-parquet must equal the inline composed sweep row for
    row, and the scanned files must be only the probed cells'."""
    from xlsx_to_database_spark.operators import similarity as S
    from xlsx_to_database_spark.queries.llm_ops import (
        _quantized_embeddings,
    )

    e = _quantized_embeddings(spark, sf_dir)
    path = str(tmp_path / "sqidx")
    meta = S.sq_index_build(e, path)
    q = [float(x) for x in e.filter(F.col("vec_id") == 0)
         .select("embedding").collect()[0][0]]
    served = S.sq_index_serve(spark, path, meta, q, k=10, nprobe=2)
    inline = S.ivfsq_topk(e, k=10, nprobe=2, query_id=0)
    assert [tuple(r) for r in served.collect()] == [
        tuple(r) for r in inline.collect()
    ]
    import re

    plan = served._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan


def test_ivf_training_is_monotone_and_keeps_empty_cells(spark, sf_dir):
    """Spherical Lloyd's monotonicity, measured: the summed rounded-6dp
    cosine of every vector to its assigned centroid must not DECREASE
    when the positional centroids are replaced by one trained round
    (assignment maximizes per-vector cosine; the mean update maximizes
    the per-cell sum — cosine to the mean equals cosine to the
    normalized mean). Plus the empty-cell contract: a centroid that
    attracts no members must survive training bit-identically."""
    from xlsx_to_database_spark.operators import similarity as S
    from xlsx_to_database_spark.queries.llm_ops import (
        _quantized_embeddings,
    )

    e = _quantized_embeddings(spark, sf_dir)
    pos = S._collect_codebook(e, 8, "vec_id", "embedding")
    trained = S.ivf_train_centroids(e, n_centroids=8)
    assert [cid for cid, _ in trained] == [cid for cid, _ in pos]

    def objective(cents):
        asg = S.ivf_assign_matrix(e, cents)
        by_cell = {cid: cv for cid, cv in cents}
        rows = asg.select("vec_id", "embedding", "cell").collect()
        tot = 0.0
        for r in rows:
            c = by_cell[r.cell]
            dot = nq = nc = 0.0
            for a, b in zip(r.embedding, c):
                dot += a * b
                nq += a * a
                nc += b * b
            tot += round(dot / ((nq ** 0.5) * (nc ** 0.5)), 6)
        return tot

    assert objective(trained) >= objective(pos) - 1e-9
    # Empty-cell contract: train against one far-away synthetic corpus
    # where centroid 2 can win nothing (all vectors identical to
    # centroid 1's vector), and check it keeps its init values.
    import pyspark.sql.functions as F2

    base = [round(0.1 * (i % 7) - 0.3, 4) for i in range(64)]
    other = [round(-v, 4) if v else 0.25 for v in base]
    rows = [(1, base), (2, other)] + [(i, base) for i in range(3, 40)]
    tiny = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    t2 = S.ivf_train_centroids(tiny, n_centroids=2)
    got = dict(t2)
    assert got[2] == [float(v) for v in other], "empty cell drifted"


def test_range_bucketed_null_value_purchase_keeps_zero_row(spark, tmp_path):
    """A NULL-value purchase has no bucket, so none of its three
    exploded bucket rows can match; the LEFT join to events must still
    keep its 0 row, and a NULL-value event must never count — pinned
    here because the testdata has no NULL values to catch it."""
    import datetime
    import os

    from xlsx_to_database_spark.registry import all_queries

    t = datetime.datetime(2030, 1, 1)
    rows = [
        (1, t, 10, "purchase", None, "{}"),   # NULL value: must emit 0
        (2, t, 11, "purchase", 5.0, "{}"),    # matches event 3 only
        (3, t, 12, "click", 5.3, "{}"),
        (4, t, 13, "click", None, "{}"),      # NULL event: never counts
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {
        r.event_id: r.n_similar
        for r in all_queries()["join_range_bucketed"](spark, d).collect()
    }
    assert out == {1: 0, 2: 1}, out
