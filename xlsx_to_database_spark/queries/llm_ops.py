"""LLM-data-pipeline query wrappers (SURVEY.md §2.10) — dedup,
similarity search, text analysis, multimodal columns.

Implementations live in :mod:`xlsx_to_database_spark.operators`; this
module binds them to the testdata tables and supplies the DuckDB
oracles. Cosine oracles use explicit float64 list math rather than
DuckDB's `list_cosine_similarity` (which accumulates in float32 and
diverges from Spark's float64 at the 6th decimal).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators import dedup as D
from xlsx_to_database_spark.operators import similarity as S
from xlsx_to_database_spark.operators import text as T
from xlsx_to_database_spark.operators.dedup import embedding_near_pairs
from xlsx_to_database_spark.operators.similarity import (
    _cos_sim_sql,
    _dot_sql,
    _norm_sql,
)
from xlsx_to_database_spark.queries import stage
from xlsx_to_database_spark.registry import _ORACLES, query

_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in T.STOPWORDS) + "]"

# Shared oracle CTE: embeddings as float64 lists with precomputed norms.
_VEC_CTE = """
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, label, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v
    )
"""


@query(
    "dedup_exact",
    """
    SELECT doc_id, text, lang, source, n_chars FROM (
      SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup with a deterministic keep-lowest-doc_id rule."""
    return D.dedup_exact(table(spark, sf_dir, "documents"), ["text"], "doc_id")


@query(
    "dedup_near",
    f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(len(list_intersect(a.t, b.t))::DOUBLE
                   / len(list_distinct(list_concat(a.t, b.t))), 6) AS jaccard
      FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.9
    """,
)
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by token-set Jaccard ≥ 0.9 (token-blocked, exact).

    Scale posture (round-12 verdict #4): this is the EXACT measure —
    the oracle instrument the approximate family is verified against.
    Its prefix-filtered join is sublinear in pair mass (8x data →
    1.9x time; 32x point in SCALE_SWEEP32_r13) but still grows with
    candidate volume; at 100 TB the scale path is `dedup_minhash` /
    `dedup_cross_corpus`, whose candidate coverage of THIS op's exact
    pairs is pinned at sf0.1 by
    tests/test_operators.py::test_minhash_covers_exact_pairs_at_sf01."""
    return D.jaccard_pairs(table(spark, sf_dir, "documents"), threshold=0.9)


@query(
    "dedup_cluster",
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
    )
    SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    """,
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup GROUPS: connected components over the
    exact Jaccard≥0.9 pair graph, every doc labeled with the min doc_id
    of its component (singletons label themselves). The iterative
    hash-to-min propagation is in `operators/dedup.py::
    connected_components`; the oracle walks the same graph with a
    recursive CTE. This is the step that turns pairwise dedup output
    into the keep/drop decision a corpus pipeline actually executes."""
    docs = table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold=0.9).select("doc_a", "doc_b")
    return D.connected_components(
        docs.select("doc_id"), pairs, node_col="doc_id",
        src_col="doc_a", dst_col="doc_b",
    )


@query("dedup_minhash")  # rows-only: xxhash64 seeds are not reproducible in DuckDB
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (16 hashes, 4 bands) — the
    sub-quadratic scale path; deterministic within Spark. Quality is
    bounded by the exact oracle the repo already computes: the unit test
    asserts band-candidate recall ≥ 0.95 against the exact
    trigram-SHINGLE Jaccard ≥ 0.9 pair set (the measure MinHash
    estimates; token-set Jaccard is `dedup_near`'s different measure)."""
    return D.minhash_lsh_pairs(table(spark, sf_dir, "documents"))


@query("dedup_simhash")  # rows-only: SimHash depends on Spark's xxhash64
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3 (chunk-banded).
    Recall is EXACT by pigeonhole (<4 differing bits over 4 chunks leave
    a chunk equal) — unit-tested equal to a brute-force Hamming sweep
    over the collected fingerprints, values included."""
    return D.simhash_pairs(table(spark, sf_dir, "documents"))


@query(
    "dedup_embedding",
    _VEC_CTE
    + """
    SELECT vec_a, vec_b, cos_sim FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_sum(list_transform(generate_series(1, len(a.e)),
                                           i -> a.e[i] * b.e[i]))
                   / (a.nrm * b.nrm), 6) AS cos_sim
      FROM n a JOIN n b ON a.vec_id < b.vec_id
    ) WHERE cos_sim >= 0.4
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.4 (exact all-pairs baseline;
    the blocked variant rides the same operator with block_col set)."""
    return D.embedding_near_pairs(table(spark, sf_dir, "embeddings"), threshold=0.4)


@query(
    "sim_cosine_topk",
    _VEC_CTE
    + """
    , q AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 0)
    SELECT vec_id,
           round(list_sum(list_transform(generate_series(1, len(e)), i -> e[i] * qe[i]))
                 / (nrm * qn), 6) AS cos_sim
    FROM n, q
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-10 cosine neighbors of vector 0 (itself included,
    cos=1 — a built-in sanity anchor)."""
    e = table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return S.cosine_topk(e, qv, k=10)


@query(
    "sim_lsh_topk",
    _VEC_CTE
    + """
    , b AS (
      SELECT vec_id, e, nrm,
             (CASE WHEN list_sum(list_transform(generate_series(1, len(e)),
                     i -> e[i] * (CASE WHEN (i * 3) % 7 < 3 THEN 1.0 ELSE -1.0 END))) >= 0
                   THEN 1 ELSE 0 END)
           + (CASE WHEN list_sum(list_transform(generate_series(1, len(e)),
                     i -> e[i] * (CASE WHEN (i * 5) % 7 < 3 THEN 1.0 ELSE -1.0 END))) >= 0
                   THEN 2 ELSE 0 END)
           + (CASE WHEN list_sum(list_transform(generate_series(1, len(e)),
                     i -> e[i] * (CASE WHEN (i * 9) % 7 < 3 THEN 1.0 ELSE -1.0 END))) >= 0
                   THEN 4 ELSE 0 END)
           + (CASE WHEN list_sum(list_transform(generate_series(1, len(e)),
                     i -> e[i] * (CASE WHEN (i * 11) % 7 < 3 THEN 1.0 ELSE -1.0 END))) >= 0
                   THEN 8 ELSE 0 END) AS bucket
      FROM n
    ), q AS (SELECT e AS qe, nrm AS qn, bucket AS qb FROM b WHERE vec_id = 0)
    SELECT vec_id,
           round(list_sum(list_transform(generate_series(1, len(e)), i -> e[i] * qe[i]))
                 / (nrm * qn), 6) AS cos_sim
    FROM b, q
    WHERE b.bucket = q.qb
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 neighbors of vector 0 via deterministic
    sign-LSH bucketing (4 hyperplanes → 16 buckets): candidates are only
    the query's bucket, the 100 TB scale path for similarity search."""
    e = table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return S.lsh_topk(e, qv, k=10, n_planes=4)


@query(
    "sim_ivf_topk",
    _VEC_CTE
    + """
    , c AS (
      SELECT vec_id AS c_id, e AS ce, nrm AS cn FROM n WHERE vec_id BETWEEN 1 AND 8
    ), sc AS (
      SELECT n.vec_id, c.c_id,
             round(list_sum(list_transform(generate_series(1, len(e)),
                                           i -> e[i] * ce[i])) / (nrm * cn), 6) AS csim
      FROM n, c
    ), asg AS (
      SELECT vec_id, c_id AS cell FROM (
        SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, c_id ASC) AS rn
        FROM sc
      ) WHERE rn = 1
    ), qp AS (
      SELECT c_id AS cell FROM sc WHERE vec_id = 0
      ORDER BY csim DESC, c_id ASC LIMIT 2
    ), q AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 0)
    SELECT n.vec_id,
           round(list_sum(list_transform(generate_series(1, len(e)),
                                         i -> e[i] * qe[i])) / (nrm * qn), 6) AS cos_sim
    FROM n
    JOIN asg ON n.vec_id = asg.vec_id
    JOIN qp ON asg.cell = qp.cell, q
    ORDER BY cos_sim DESC, n.vec_id ASC
    LIMIT 10
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN beside the LSH path: coarse-quantize every vector to
    its nearest of 8 deterministic centroids (the embeddings with ids
    1..8 — a reproducible stand-in for k-means output), probe the
    query's 2 closest cells, brute-force only those. Assignment is
    per-row literal-centroid array math — zero shuffle before the final
    top-k merge."""
    return S.ivf_topk(
        table(spark, sf_dir, "embeddings"), k=10, n_centroids=8, nprobe=2
    )


@query(
    "sim_ivf_matrix_topk",
    _VEC_CTE
    + """
    , c AS (
      SELECT vec_id AS c_id, e AS ce, nrm AS cn FROM n WHERE vec_id BETWEEN 1 AND 8
    ), sc AS (
      SELECT n.vec_id, c.c_id,
             round(list_sum(list_transform(generate_series(1, len(e)),
                                           i -> e[i] * ce[i])) / (nrm * cn), 6) AS csim
      FROM n, c
    ), asg AS (
      SELECT vec_id, c_id AS cell FROM (
        SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, c_id ASC) AS rn
        FROM sc
      ) WHERE rn = 1
    ), qp AS (
      SELECT c_id AS cell FROM sc WHERE vec_id = 0
      ORDER BY csim DESC, c_id ASC LIMIT 2
    ), q AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 0)
    SELECT n.vec_id,
           round(list_sum(list_transform(generate_series(1, len(e)),
                                         i -> e[i] * qe[i])) / (nrm * qn), 6) AS cos_sim
    FROM n
    JOIN asg ON n.vec_id = asg.vec_id
    JOIN qp ON asg.cell = qp.cell, q
    ORDER BY cos_sim DESC, n.vec_id ASC
    LIMIT 10
    """,
)
def sim_ivf_matrix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivf_topk through the REAL-centroid-count assignment path:
    the centroid matrix broadcasts once and each Arrow batch scores
    via one BLAS matmul (operators/similarity.py::ivf_assign_matrix) —
    the plan shape that survives 65k centroids, where the literal path
    cannot inline (round-10 verdict #4). Same oracle as sim_ivf_topk:
    the two assignment paths agree exactly on this configuration (the
    shared 6-decimal rounding absorbs BLAS-vs-codegen ulp drift)."""
    return S.ivf_topk_matrix(
        table(spark, sf_dir, "embeddings"), k=10, n_centroids=8, nprobe=2
    )


def _quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with vectors quantized to 4dp doubles —
    the PQ ops' input contract (mirrors the oracle's ``v4`` CTE): 4dp
    values cast EXACTLY to DECIMAL(28,10), so training's member sums
    are order-independent and engine-identical."""
    return table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: F.round(x.cast("double"), 4)
        ).alias("embedding"),
    )


#: Shared PQ oracle scaffolding, TRAINED codebook (round-11 verdict
#: #3b). Vectors quantize to 4dp up front (the ml_kmeans discipline:
#: makes the DECIMAL member sums exact, so both engines carry identical
#: doubles through training). Then one deterministic Lloyd's round per
#: subspace: assign every 16-dim segment to its nearest INIT codeword
#: (the positional stand-in — subspace slices of vectors 1..8; rounded
#: 6dp squared-L2, smallest-id tie-break), recompute each codeword as
#: the per-dimension decimal mean rounded to 6dp, empty cells keeping
#: their init values. ``best`` is then the per-(vector, subspace)
#: argmin against the TRAINED codebook — the encode every PQ op reads.
_PQ_CTE = """
    WITH v4 AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE), 4)) AS e
      FROM embeddings
    ), sub AS (SELECT unnest(generate_series(0, 3)) AS s),
    ini AS (
      SELECT sub.s, c.vec_id AS cid, c.e
      FROM sub, (SELECT vec_id, e FROM v4 WHERE vec_id BETWEEN 1 AND 8) c
    ), inidim AS (
      SELECT s, cid, t.i AS dim, e[s*16 + t.i] AS m
      FROM ini, UNNEST(generate_series(1, 16)) AS t(i)
    ), asg0 AS (
      SELECT vec_id, s, cid, e FROM (
        SELECT v4.vec_id, ini.s, ini.cid, v4.e,
               row_number() OVER (PARTITION BY v4.vec_id, ini.s
                 ORDER BY round(list_sum(list_transform(generate_series(1, 16),
                     i -> (v4.e[ini.s*16+i] - ini.e[ini.s*16+i])
                        * (v4.e[ini.s*16+i] - ini.e[ini.s*16+i]))), 6) ASC,
                   ini.cid ASC) AS rn
        FROM v4, ini
      ) WHERE rn = 1
    ), upd0 AS (
      -- exact BIGINT sum in 1e-4 units (inputs are 4dp): the codeword
      -- mean is then rounded at 6dp HALF-AWAY-FROM-ZERO in pure
      -- integer arithmetic — a double-quotient round() here hit a
      -- midpoint at sf0.1 that Spark and DuckDB rounded differently
      SELECT a.s, a.cid, t.i AS dim,
             CAST(sum(CAST(round(a.e[a.s*16 + t.i] * 10000) AS BIGINT))
                  AS BIGINT) AS si,
             count(*) AS n
      FROM asg0 a, UNNEST(generate_series(1, 16)) AS t(i)
      GROUP BY a.s, a.cid, t.i
    ), upd AS (
      SELECT s, cid, dim,
             CAST(CASE WHEN si >= 0
                  THEN (si * 200 + n) // (2 * n)
                  ELSE 0 - (((0 - si) * 200 + n) // (2 * n))
                  END AS DOUBLE) / 1000000 AS m
      FROM upd0
    ), cb AS (
      SELECT i.s, i.cid, list(coalesce(u.m, i.m) ORDER BY i.dim) AS cw
      FROM inidim i LEFT JOIN upd u
        ON u.s = i.s AND u.cid = i.cid AND u.dim = i.dim
      GROUP BY i.s, i.cid
    ), pairs AS (
      SELECT v4.vec_id, cb.s, cb.cid,
             round(list_sum(list_transform(generate_series(1, 16),
                   i -> (v4.e[cb.s*16+i] - cb.cw[i])
                      * (v4.e[cb.s*16+i] - cb.cw[i]))), 6) AS d2
      FROM v4, cb
    ), best AS (
      SELECT vec_id, s, cid, d2,
             row_number() OVER (PARTITION BY vec_id, s
                                ORDER BY d2 ASC, cid ASC) AS rn
      FROM pairs
    )
"""


@query(
    "vec_pq_encode",
    _PQ_CTE
    + """
    SELECT vec_id,
           CAST(max(CASE WHEN s = 0 THEN cid END) AS BIGINT) AS c0,
           CAST(max(CASE WHEN s = 1 THEN cid END) AS BIGINT) AS c1,
           CAST(max(CASE WHEN s = 2 THEN cid END) AS BIGINT) AS c2,
           CAST(max(CASE WHEN s = 3 THEN cid END) AS BIGINT) AS c3,
           round(sum(d2), 6) AS distortion
    FROM best WHERE rn = 1
    GROUP BY vec_id
    """,
)
def vec_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (FAISS-IVFPQ's compression half):
    4 subspaces × 8 TRAINED codewords — one deterministic Lloyd's round
    per subspace from the positional init (round-11 verdict #3b;
    operators/similarity.py::pq_train_codebook) — each 64-dim vector
    becomes 4 codes + a measured quantization distortion. Vectors
    quantize to 4dp up front so training's decimal means are
    engine-exact. Codegen'd array math over inline codeword literals;
    no shuffle (the 100 TB path stores 4-byte codes instead of
    256-byte vectors)."""
    e = _quantized_embeddings(spark, sf_dir)
    cb = S.pq_train_codebook(e, n_subspaces=4, n_codes=8)
    return S.pq_encode(e, n_subspaces=4, n_codes=8, codebook=cb)


#: Query-side ADC scaffolding shared by the corpus-wide and the
#: IVF-probed serving oracles: the query's per-(subspace, codeword)
#: distance table against the TRAINED codebook.
_QTAB_CTE = """
    , q AS (SELECT e AS qe FROM v4 WHERE vec_id = 0),
    qtab AS (
      SELECT cb.s, cb.cid,
             round(list_sum(list_transform(generate_series(1, 16),
                   i -> (qe[cb.s*16+i] - cb.cw[i])
                      * (qe[cb.s*16+i] - cb.cw[i]))), 6) AS dq2
      FROM q, cb
    )
"""


@query(
    "sim_pq_adc_topk",
    _PQ_CTE
    + _QTAB_CTE
    + """
    SELECT b.vec_id, round(sum(qtab.dq2), 6) AS adc_dist
    FROM best b JOIN qtab ON b.s = qtab.s AND b.cid = qtab.cid
    WHERE b.rn = 1
    GROUP BY b.vec_id
    ORDER BY adc_dist ASC, b.vec_id ASC
    LIMIT 10
    """,
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-10 (the serving half): the query
    precomputes a 4×8 distance table to the TRAINED codewords; each
    corpus row's distance is the sum of 4 table lookups on its codes —
    the candidate sweep reads codes, never vectors. Table inlined as
    map literals; one TakeOrdered top-k is the only shuffle
    (operators/similarity.py::pq_adc_topk)."""
    e = _quantized_embeddings(spark, sf_dir)
    cb = S.pq_train_codebook(e, n_subspaces=4, n_codes=8)
    return S.pq_adc_topk(e, k=10, n_subspaces=4, n_codes=8, codebook=cb)


#: IVF cell-assignment scaffolding over the 4dp-quantized vectors
#: (cosine to centroids 1..8, rounded 6dp, smallest-id tie-break) plus
#: the query's probe-cell ranking — shared by the composed IVFPQ
#: serving oracle and the persisted-index build oracle.
_IVF_CELL_CTE = """
    , nv AS (
      SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v4
    ), cc AS (
      SELECT vec_id AS c_id, e AS ce, nrm AS cn
      FROM nv WHERE vec_id BETWEEN 1 AND 8
    ), sc AS (
      SELECT nv.vec_id, cc.c_id,
             round(list_sum(list_transform(generate_series(1, len(e)),
                                           i -> e[i] * ce[i]))
                   / (nrm * cn), 6) AS csim
      FROM nv, cc
    ), cellasg AS (
      SELECT vec_id, c_id AS cell FROM (
        SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, c_id ASC) AS rn
        FROM sc
      ) WHERE rn = 1
    ), qp AS (
      SELECT c_id AS cell FROM sc WHERE vec_id = 0
      ORDER BY csim DESC, c_id ASC LIMIT 2
    )
"""

#: The full composed IVFPQ (by_residual=False) serving oracle — also
#: the oracle of sim_index_serve_topk, which must return the identical
#: ranking from the PERSISTED codes.
_IVFPQ_ORACLE = (
    _PQ_CTE
    + _IVF_CELL_CTE
    + _QTAB_CTE
    + """
    SELECT b.vec_id, round(sum(qtab.dq2), 6) AS adc_dist
    FROM best b
    JOIN cellasg ca ON b.vec_id = ca.vec_id
    JOIN qp ON ca.cell = qp.cell
    JOIN qtab ON b.s = qtab.s AND b.cid = qtab.cid
    WHERE b.rn = 1
    GROUP BY b.vec_id
    ORDER BY adc_dist ASC, b.vec_id ASC
    LIMIT 10
    """
)


@query("sim_ivfpq_topk", _IVFPQ_ORACLE)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ COMPOSED (round-11 verdict #3a) — FAISS IndexIVFPQ's
    serving shape, by_residual=False: the broadcast-matrix coarse
    quantizer assigns every vector to one of 8 cells, the query probes
    its 2 closest cells, and ADC over TRAINED PQ codes ranks within
    those cells only — the scan reads 4-byte codes of ~1/4 of the
    corpus instead of 256-byte vectors of all of it. The oracle
    composes the trained-codebook encode CTE with the IVF cell
    assignment on the same 4dp-quantized vectors
    (operators/similarity.py::ivfpq_topk)."""
    e = _quantized_embeddings(spark, sf_dir)
    cb = S.pq_train_codebook(e, n_subspaces=4, n_codes=8)
    return S.ivfpq_topk(
        e, k=10, n_centroids=8, nprobe=2, n_subspaces=4, n_codes=8,
        codebook=cb,
    )


@query(
    "vec_index_build",
    _PQ_CTE
    + _IVF_CELL_CTE
    + """
    SELECT b.vec_id, CAST(ca.cell AS BIGINT) AS cell,
           CAST(max(CASE WHEN s = 0 THEN cid END) AS BIGINT) AS c0,
           CAST(max(CASE WHEN s = 1 THEN cid END) AS BIGINT) AS c1,
           CAST(max(CASE WHEN s = 2 THEN cid END) AS BIGINT) AS c2,
           CAST(max(CASE WHEN s = 3 THEN cid END) AS BIGINT) AS c3
    FROM best b JOIN cellasg ca ON b.vec_id = ca.vec_id
    WHERE b.rn = 1
    GROUP BY b.vec_id, ca.cell
    """,
)
def vec_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVFPQ index BUILD (encode-once half of every
    production ANN system): cell-assign + trained-PQ-encode every
    vector and write (vec_id, codes) parquet PARTITIONED BY cell —
    the index stores 4-byte codes, no vectors, and its hive layout
    gives serving directory-level partition pruning
    (operators/similarity.py::ivfpq_index_build). The read-back is the
    oracle-checked result, so the round trip through the persisted
    files is what's verified."""
    e = _quantized_embeddings(spark, sf_dir)
    path = stage.path(sf_dir, "ivfpq_index")
    S.ivfpq_index_build(e, path)
    back = spark.read.parquet(path)
    return back.select(
        "vec_id", F.col("cell").cast("long").alias("cell"),
        "c0", "c1", "c2", "c3",
    )


@query("sim_index_serve_topk", _IVFPQ_ORACLE)
def sim_index_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve top-10 from the PERSISTED IVFPQ index — the serve-many
    half: probe cells rank driver-side against the metadata centroids,
    the scan reads ONLY the probed cells' directories (partition
    pruning, plan-asserted) and ONLY code columns (the index has no
    vectors), ADC ranks via inlined lookup literals. Must serve the
    IDENTICAL ranking to sim_ivfpq_topk — the two share one oracle,
    which is the claim that persisting the codes loses nothing
    (operators/similarity.py::ivfpq_index_serve)."""
    e = _quantized_embeddings(spark, sf_dir)
    meta = S.ivfpq_index_build(e, stage.path(sf_dir, "ivfpq_index"))
    q = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0)
        .select("embedding").collect()[0][0]
    ]
    return S.ivfpq_index_serve(
        spark, stage.path(sf_dir, "ivfpq_index"), meta, q, k=10, nprobe=2
    )


#: The residual-mode (by_residual=True) scaffolding: 4dp vectors, IVF
#: cell assignment, per-cell residuals, the residual-trained codebook
#: (exact-integer Lloyd's means), residual encode (rbest) — shared by
#: the serving oracle and the persisted residual-index build oracle.
_RESIDUAL_CTE = """
    WITH v4 AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE), 4)) AS e
      FROM embeddings
    ), sub AS (SELECT unnest(generate_series(0, 3)) AS s),
    nv AS (
      SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v4
    ), cc AS (
      SELECT vec_id AS c_id, e AS ce, nrm AS cn
      FROM nv WHERE vec_id BETWEEN 1 AND 8
    ), sc AS (
      SELECT nv.vec_id, cc.c_id,
             round(list_sum(list_transform(generate_series(1, len(e)),
                                           i -> e[i] * ce[i]))
                   / (nrm * cn), 6) AS csim
      FROM nv, cc
    ), cellasg AS (
      SELECT vec_id, c_id AS cell FROM (
        SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, c_id ASC) AS rn
        FROM sc
      ) WHERE rn = 1
    ), qp AS (
      SELECT c_id AS cell FROM sc WHERE vec_id = 0
      ORDER BY csim DESC, c_id ASC LIMIT 2
    ), q AS (SELECT e AS qe FROM v4 WHERE vec_id = 0),
    rv AS (
      SELECT v4.vec_id, ca.cell,
             list_transform(generate_series(1, len(v4.e)),
                            i -> round(v4.e[i] - cc.ce[i], 4)) AS r
      FROM v4
      JOIN cellasg ca ON v4.vec_id = ca.vec_id
      JOIN cc ON cc.c_id = ca.cell
    ), rini AS (
      SELECT sub.s, c.vec_id AS cid, c.r
      FROM sub, (SELECT vec_id, r FROM rv
                 WHERE vec_id BETWEEN 9 AND 16) c
    ), rinidim AS (
      SELECT s, cid, t.i AS dim, r[s*16 + t.i] AS m
      FROM rini, UNNEST(generate_series(1, 16)) AS t(i)
    ), rasg0 AS (
      SELECT vec_id, s, cid, r FROM (
        SELECT rv.vec_id, rini.s, rini.cid, rv.r,
               row_number() OVER (PARTITION BY rv.vec_id, rini.s
                 ORDER BY round(list_sum(list_transform(generate_series(1, 16),
                     i -> (rv.r[rini.s*16+i] - rini.r[rini.s*16+i])
                        * (rv.r[rini.s*16+i] - rini.r[rini.s*16+i]))), 6) ASC,
                   rini.cid ASC) AS rn
        FROM rv, rini
      ) WHERE rn = 1
    ), rupd0 AS (
      -- same exact-integer mean rounding as the x-space upd CTE
      SELECT a.s, a.cid, t.i AS dim,
             CAST(sum(CAST(round(a.r[a.s*16 + t.i] * 10000) AS BIGINT))
                  AS BIGINT) AS si,
             count(*) AS n
      FROM rasg0 a, UNNEST(generate_series(1, 16)) AS t(i)
      GROUP BY a.s, a.cid, t.i
    ), rupd AS (
      SELECT s, cid, dim,
             CAST(CASE WHEN si >= 0
                  THEN (si * 200 + n) // (2 * n)
                  ELSE 0 - (((0 - si) * 200 + n) // (2 * n))
                  END AS DOUBLE) / 1000000 AS m
      FROM rupd0
    ), rcb AS (
      SELECT i.s, i.cid, list(coalesce(u.m, i.m) ORDER BY i.dim) AS cw
      FROM rinidim i LEFT JOIN rupd u
        ON u.s = i.s AND u.cid = i.cid AND u.dim = i.dim
      GROUP BY i.s, i.cid
    ), rpairs AS (
      SELECT rv.vec_id, rv.cell, rcb.s, rcb.cid,
             round(list_sum(list_transform(generate_series(1, 16),
                   i -> (rv.r[rcb.s*16+i] - rcb.cw[i])
                      * (rv.r[rcb.s*16+i] - rcb.cw[i]))), 6) AS d2
      FROM rv, rcb
    ), rbest AS (
      SELECT vec_id, cell, s, cid,
             row_number() OVER (PARTITION BY vec_id, s
                                ORDER BY d2 ASC, cid ASC) AS rn
      FROM rpairs
    )
"""

#: The full residual-mode serving oracle — ALSO the oracle of
#: sim_residual_serve_topk, which must return the identical ranking
#: from the PERSISTED residual codes.
_RESIDUAL_ORACLE = _RESIDUAL_CTE + """
    , qrv AS (
      SELECT qp.cell,
             list_transform(generate_series(1, len(q.qe)),
                            i -> round(q.qe[i] - cc.ce[i], 4)) AS qr
      FROM q, qp JOIN cc ON cc.c_id = qp.cell
    ), rqtab AS (
      SELECT qrv.cell, rcb.s, rcb.cid,
             round(list_sum(list_transform(generate_series(1, 16),
                   i -> (qr[rcb.s*16+i] - rcb.cw[i])
                      * (qr[rcb.s*16+i] - rcb.cw[i]))), 6) AS dq2
      FROM qrv, rcb
    )
    SELECT b.vec_id, round(sum(t.dq2), 6) AS adc_dist
    FROM rbest b
    JOIN rqtab t ON t.cell = b.cell AND t.s = b.s AND t.cid = b.cid
    WHERE b.rn = 1
    GROUP BY b.vec_id
    ORDER BY adc_dist ASC, b.vec_id ASC
    LIMIT 10
"""


@query("sim_ivfpq_residual_topk", _RESIDUAL_ORACLE)
def sim_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ with RESIDUAL encoding — FAISS IndexIVFPQ's DEFAULT mode
    (by_residual=True), beside sim_ivfpq_topk's by_residual=False: PQ
    quantizes x − centroid(cell(x)), so the shared codebook spends its
    codewords on what the coarse quantizer missed, and the query's ADC
    table is PER PROBED CELL. Residuals re-quantize to 4dp after the
    subtraction (both engines back on identical doubles); codebook =
    one Lloyd's round over residuals, init = the residuals of vectors
    9..16 (1..8 are their own centroids — residual ~0)
    (operators/similarity.py::ivfpq_residual_topk)."""
    return S.ivfpq_residual_topk(
        _quantized_embeddings(spark, sf_dir),
        k=10, n_centroids=8, nprobe=2, n_subspaces=4, n_codes=8,
    )


@query(
    "vec_residual_index_build",
    _RESIDUAL_CTE
    + """
    SELECT vec_id, CAST(cell AS BIGINT) AS cell,
           CAST(max(CASE WHEN s = 0 THEN cid END) AS BIGINT) AS c0,
           CAST(max(CASE WHEN s = 1 THEN cid END) AS BIGINT) AS c1,
           CAST(max(CASE WHEN s = 2 THEN cid END) AS BIGINT) AS c2,
           CAST(max(CASE WHEN s = 3 THEN cid END) AS BIGINT) AS c3
    FROM rbest
    WHERE rn = 1
    GROUP BY vec_id, cell
    """,
)
def vec_residual_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted RESIDUAL-mode IVFPQ index BUILD (round-12 verdict #3)
    — the by_residual=True sibling of vec_index_build: cell-assign,
    encode each vector's 4dp-quantized residual against the
    residual-trained codebook, write (vec_id, codes) parquet
    PARTITIONED BY cell
    (operators/similarity.py::ivfpq_residual_index_build). The
    read-back is the oracle-checked result, so the round trip through
    the persisted files is what's verified."""
    e = _quantized_embeddings(spark, sf_dir)
    path = stage.path(sf_dir, "ivfpq_residx")
    S.ivfpq_residual_index_build(e, path)
    back = spark.read.parquet(path)
    return back.select(
        "vec_id", F.col("cell").cast("long").alias("cell"),
        "c0", "c1", "c2", "c3",
    )


@query("sim_residual_serve_topk", _RESIDUAL_ORACLE)
def sim_residual_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve top-10 from the PERSISTED residual-mode IVFPQ index —
    completing the encode-once/serve-many pair for FAISS's default
    mode (round-12 verdict #3): probe cells rank driver-side against
    the metadata centroids, the scan reads ONLY the probed cells'
    directories (partition pruning, plan-asserted) and ONLY code
    columns, and per-cell ADC tables come from the query's per-cell
    residuals. Must serve the IDENTICAL ranking to
    sim_ivfpq_residual_topk — the two share one oracle, which is the
    claim that persisting the residual codes loses nothing
    (operators/similarity.py::ivfpq_residual_index_serve)."""
    e = _quantized_embeddings(spark, sf_dir)
    meta = S.ivfpq_residual_index_build(e, stage.path(sf_dir, "ivfpq_residx"))
    q = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0)
        .select("embedding").collect()[0][0]
    ]
    return S.ivfpq_residual_index_serve(
        spark, stage.path(sf_dir, "ivfpq_residx"), meta, q, k=10, nprobe=2
    )


#: Scalar-quantization scaffolding (SQ8 — FAISS IndexScalarQuantizer):
#: 4dp vectors in exact 1e-4 integer units, per-DIMENSION [min, max]
#: bounds, and round-half-up 8-bit codes — every step integer-exact on
#: both engines (no float enters until the final fixed display
#: division), the discipline the PQ codeword means needed retrofitted.
#: The 4dp-quantized vectors — the shared front of every exact-integer
#: quantization oracle (mirrors _quantized_embeddings).
_V4_CTE = """
    WITH v4 AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE), 4)) AS e
      FROM embeddings
    )"""

_SQ_CTE = _V4_CTE.rstrip() + """
    , xd AS (
      SELECT vec_id, t.i AS dim,
             CAST(round(e[t.i] * 10000) AS BIGINT) AS xi
      FROM v4, UNNEST(generate_series(1, len(e))) AS t(i)
    ), mm AS (
      SELECT dim, min(xi) AS lo, max(xi) AS hi FROM xd GROUP BY dim
    ), sqcodes AS (
      SELECT xd.vec_id, xd.dim,
             CASE WHEN mm.hi = mm.lo THEN 0
                  ELSE ((xd.xi - mm.lo) * 255 * 2 + (mm.hi - mm.lo))
                       // (2 * (mm.hi - mm.lo))
             END AS c
      FROM xd JOIN mm ON mm.dim = xd.dim
    )
"""


@query(
    "vec_sq_encode",
    _SQ_CTE
    + """
    SELECT vec_id, CAST(dim AS BIGINT) AS dim, CAST(c AS BIGINT) AS code
    FROM sqcodes
    """,
)
def vec_sq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR quantization encode (SQ8 — FAISS IndexScalarQuantizer,
    the production ladder rung beside PQ: d bytes/vector, no codebook
    training, near-exact recall): per-dimension [min, max] trained in
    one d-row aggregate, then each dimension independently
    round-half-up quantized to an 8-bit level — computed ENTIRELY in
    int64 on both engines (4dp inputs are exact 1e-4 integers), so
    unlike the PQ tables there is no cross-engine rounding surface at
    all. Map-only encode; the bounds ride the plan as 2·d literals
    (operators/similarity.py::sq_encode). Declared shape is the
    EXPLODED ``(vec_id, dim, code)`` — one int64 row per dimension,
    1-based dim — because top-level array columns sit outside the
    driver comparator's canonical domain (registry.py discipline);
    the packed array encode itself is unchanged."""
    e = _quantized_embeddings(spark, sf_dir)
    enc = S.sq_encode(e)
    return enc.select(
        "vec_id", F.posexplode("codes").alias("p", "code")
    ).select(
        "vec_id",
        (F.col("p") + 1).cast("long").alias("dim"),
        F.col("code").cast("long").alias("code"),
    )


@query(
    "sim_sq_topk",
    _SQ_CTE
    + """
    , nums AS (
      SELECT c.vec_id,
             ((qx.xi - mm.lo) * 255 - c.c * (mm.hi - mm.lo)) AS nm
      FROM sqcodes c
      JOIN mm ON mm.dim = c.dim
      JOIN (SELECT dim, xi FROM xd WHERE vec_id = 0) qx
        ON qx.dim = c.dim
    ), ss AS (
      SELECT vec_id, CAST(sum(nm * nm) AS BIGINT) AS ssq
      FROM nums GROUP BY vec_id
    )
    SELECT vec_id,
           CAST((ssq - ssq % 6502500) // 6502500
                + CASE WHEN (ssq % 6502500) * 2 >= 6502500
                       THEN 1 ELSE 0 END AS DOUBLE) / 1000000
             AS sq_dist
    FROM ss
    ORDER BY sq_dist ASC, vec_id ASC
    LIMIT 10
    """,
)
def sim_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ asymmetric top-10: the query stays exact, candidates are
    their dequantized 8-bit codes — the per-dimension error term has
    the closed integer form 255·(qi−lo) − code·(hi−lo), so the summed
    squared distance and its 6dp rounding are PURE int64 on both
    engines (the one documented float-midpoint residual of the PQ ADC
    tables does not exist here). One TakeOrdered is the only shuffle
    (operators/similarity.py::sq_adc_topk)."""
    e = _quantized_embeddings(spark, sf_dir)
    return S.sq_adc_topk(e, k=10, query_id=0)


#: The full IVF+SQ serving oracle — ALSO the oracle of
#: sim_sq_serve_topk, which must return the identical ranking from
#: the PERSISTED SQ codes (the claim that persisting loses nothing,
#: the same shared-oracle proof the two IVFPQ index pairs carry).
_IVFSQ_ORACLE = (
    _SQ_CTE.rstrip()
    + _IVF_CELL_CTE
    + """
    , nums AS (
      SELECT c.vec_id,
             ((qx.xi - mm.lo) * 255 - c.c * (mm.hi - mm.lo)) AS nm
      FROM sqcodes c
      JOIN cellasg ca ON ca.vec_id = c.vec_id
      JOIN qp ON ca.cell = qp.cell
      JOIN mm ON mm.dim = c.dim
      JOIN (SELECT dim, xi FROM xd WHERE vec_id = 0) qx
        ON qx.dim = c.dim
    ), ss AS (
      SELECT vec_id, CAST(sum(nm * nm) AS BIGINT) AS ssq
      FROM nums GROUP BY vec_id
    )
    SELECT vec_id,
           CAST((ssq - ssq % 6502500) // 6502500
                + CASE WHEN (ssq % 6502500) * 2 >= 6502500
                       THEN 1 ELSE 0 END AS DOUBLE) / 1000000
             AS sq_dist
    FROM ss
    ORDER BY sq_dist ASC, vec_id ASC
    LIMIT 10
    """
)


@query("sim_ivfsq_topk", _IVFSQ_ORACLE)
def sim_ivfsq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + SQ COMPOSED — FAISS IndexIVFScalarQuantizer's serving
    shape, completing the quantization matrix beside sim_ivfpq_topk:
    the broadcast-matrix coarse quantizer prunes to the query's 2
    probed cells, and the exact-integer SQ distance ranks within them
    only. Bounds train on the whole corpus (FAISS trains the scalar
    quantizer before adding), so probed-cell candidates decode against
    global scales (operators/similarity.py::ivfsq_topk)."""
    e = _quantized_embeddings(spark, sf_dir)
    return S.ivfsq_topk(e, k=10, n_centroids=8, nprobe=2, query_id=0)


#: TRAINED coarse-quantizer scaffolding: one deterministic spherical
#: Lloyd's round over the FULL 4dp vectors — init = positional
#: centroids (vectors 1..8), assignment under the shared cell rule
#: (rounded-6dp cosine DESC, smallest-id tie-break), per-dimension
#: means as exact BIGINT sums in 1e-4 units with the pure-integer
#: half-away-from-zero 6dp rounding (the pq_train_codebook
#: discipline on full vectors; 64 dims).
_IVF_TRAIN_CTE = """
    , inv AS (
      SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v4
    ), icc AS (
      SELECT vec_id AS c_id, e AS ce, nrm AS cn
      FROM inv WHERE vec_id BETWEEN 1 AND 8
    ), isc AS (
      SELECT inv.vec_id, icc.c_id,
             round(list_sum(list_transform(generate_series(1, len(e)),
                                           i -> e[i] * ce[i]))
                   / (nrm * icc.cn), 6) AS csim
      FROM inv, icc
    ), iasg AS (
      SELECT vec_id, c_id AS cell FROM (
        SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, c_id ASC) AS rn
        FROM isc
      ) WHERE rn = 1
    ), iupd0 AS (
      SELECT a.cell, t.i AS dim,
             CAST(sum(CAST(round(v4.e[t.i] * 10000) AS BIGINT))
                  AS BIGINT) AS si,
             count(*) AS n
      FROM iasg a JOIN v4 ON v4.vec_id = a.vec_id,
           UNNEST(generate_series(1, 64)) AS t(i)
      GROUP BY a.cell, t.i
    ), iupd AS (
      SELECT cell, dim,
             CAST(CASE WHEN si >= 0
                  THEN (si * 200 + n) // (2 * n)
                  ELSE 0 - (((0 - si) * 200 + n) // (2 * n))
                  END AS DOUBLE) / 1000000 AS m
      FROM iupd0
    ), icd AS (
      SELECT icc.c_id, t.i AS dim, icc.ce[t.i] AS m0
      FROM icc, UNNEST(generate_series(1, 64)) AS t(i)
    ), tcc AS (
      SELECT icd.c_id,
             list(coalesce(u.m, icd.m0) ORDER BY icd.dim) AS ce
      FROM icd LEFT JOIN iupd u
        ON u.cell = icd.c_id AND u.dim = icd.dim
      GROUP BY icd.c_id
    )
"""


@query(
    "vec_ivf_train_centroids",
    _V4_CTE.rstrip()
    + _IVF_TRAIN_CTE
    + """
    SELECT c_id AS cell_id, CAST(t.i AS BIGINT) AS dim,
           ce[t.i] AS value
    FROM tcc, UNNEST(generate_series(1, len(ce))) AS t(i)
    """,
)
def vec_ivf_train_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the IVF coarse quantizer — one deterministic spherical
    Lloyd's round over the full 4dp vectors (the upgrade
    pq_train_codebook gave the PQ codewords, applied to the cell
    centroids every IVF-composed op probes; until now they were the
    positional stand-in): assignment under the SHARED cell rule,
    per-dimension exact-BIGINT means with pure-integer 6dp
    half-away-from-zero rounding, empty cells keeping their init. The
    k·d training aggregate is the only shuffle; the output is the
    coarse-quantizer metadata — FAISS training's artifact
    (operators/similarity.py::ivf_train_centroids) — declared in the
    EXPLODED ``(cell_id, dim, value)`` shape (one double row per
    centroid dimension, 1-based dim) because top-level array columns
    sit outside the driver comparator's canonical domain
    (registry.py discipline); training itself is unchanged."""
    e = _quantized_embeddings(spark, sf_dir)
    cents = S.ivf_train_centroids(e, n_centroids=8)
    return spark.createDataFrame(
        [
            (cid, i + 1, float(v))
            for cid, vals in cents
            for i, v in enumerate(vals)
        ],
        "cell_id long, dim long, value double",
    )


#: The trained-IVF serving oracle — ALSO the oracle of
#: sim_ivfflat_serve_topk, which must return the identical ranking
#: from the PERSISTED cell-partitioned vectors (the shared-oracle
#: persistence proof, fourth instance).
_IVF_TRAINED_ORACLE = (
    _V4_CTE.rstrip()
    + _IVF_TRAIN_CTE
    + """
    , tnv AS (
      SELECT c_id, ce,
             sqrt(list_sum(list_transform(ce, x -> x * x))) AS cn
      FROM tcc
    ), tsc AS (
      SELECT inv.vec_id, tnv.c_id,
             round(list_sum(list_transform(generate_series(1, len(e)),
                                           i -> e[i] * ce[i]))
                   / (inv.nrm * tnv.cn), 6) AS csim
      FROM inv, tnv
    ), tasg AS (
      SELECT vec_id, c_id AS cell FROM (
        SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, c_id ASC) AS rn
        FROM tsc
      ) WHERE rn = 1
    ), tqp AS (
      SELECT c_id AS cell FROM tsc WHERE vec_id = 0
      ORDER BY csim DESC, c_id ASC LIMIT 2
    ), q0 AS (SELECT e AS qe, nrm AS qn FROM inv WHERE vec_id = 0)
    SELECT inv.vec_id,
           round(list_sum(list_transform(generate_series(1, len(e)),
                                         i -> e[i] * qe[i]))
                 / (inv.nrm * q0.qn), 6) AS cos_sim
    FROM inv JOIN tasg ON tasg.vec_id = inv.vec_id
    JOIN tqp ON tasg.cell = tqp.cell, q0
    ORDER BY cos_sim DESC, inv.vec_id ASC
    LIMIT 10
    """
)


@query("sim_ivf_trained_topk", _IVF_TRAINED_ORACLE)
def sim_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 over the TRAINED coarse quantizer: the same serving
    skeleton as sim_ivf_matrix_topk (broadcast-matmul assignment,
    one-row probe broadcast, exact cosine within the 2 probed cells,
    one TakeOrdered) but the cells are Lloyd's centroids instead of
    the positional stand-in — cells tile the corpus where it lives,
    which is what makes nprobe/k recall meaningful at real centroid
    counts (operators/similarity.py::ivf_topk_trained)."""
    e = _quantized_embeddings(spark, sf_dir)
    return S.ivf_topk_trained(e, k=10, n_centroids=8, nprobe=2)


@query(
    "vec_ivfflat_index_build",
    _V4_CTE.rstrip()
    + _IVF_TRAIN_CTE
    + """
    , tnv2 AS (
      SELECT c_id, ce,
             sqrt(list_sum(list_transform(ce, x -> x * x))) AS cn
      FROM tcc
    ), tsc2 AS (
      SELECT inv.vec_id, tnv2.c_id,
             round(list_sum(list_transform(generate_series(1, len(e)),
                                           i -> e[i] * ce[i]))
                   / (inv.nrm * tnv2.cn), 6) AS csim
      FROM inv, tnv2
    )
    -- "+ 0.0" turns the -0.0 DuckDB's round() keeps for tiny negative
    -- inputs into 0.0, which is what Spark's round() emits.
    SELECT v4.vec_id, CAST(a.cell AS BIGINT) AS cell,
           CAST(t.i AS BIGINT) AS dim, v4.e[t.i] + 0.0 AS value
    FROM v4 JOIN (
      SELECT vec_id, c_id AS cell FROM (
        SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, c_id ASC) AS rn
        FROM tsc2
      ) WHERE rn = 1
    ) a ON a.vec_id = v4.vec_id,
    UNNEST(generate_series(1, len(v4.e))) AS t(i)
    """,
)
def vec_ivfflat_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-FLAT index BUILD over the TRAINED coarse
    quantizer (FAISS IndexIVFFlat on disk) — completes the persistence
    matrix: IVFPQ (both modes), IVFSQ, and now flat each have an
    encode-once/serve-many pair. Unlike the code indexes this one
    stores the full vectors partitioned by trained cell — 1x
    compression, exact within-cell ranking. The read-back is the
    oracle-checked result
    (operators/similarity.py::ivfflat_index_build), declared in the
    EXPLODED ``(vec_id, cell, dim, value)`` shape (1-based dim)
    because top-level array columns sit outside the driver
    comparator's canonical domain (registry.py discipline); the
    persisted index keeps its packed vector layout."""
    e = _quantized_embeddings(spark, sf_dir)
    path = stage.path(sf_dir, "ivfflat_idx")
    S.ivfflat_index_build(e, path)
    back = spark.read.parquet(path)
    return back.select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        F.posexplode("embedding").alias("p", "value"),
    ).select(
        "vec_id", "cell",
        (F.col("p") + 1).cast("long").alias("dim"),
        F.col("value").cast("double").alias("value"),
    )


@query("sim_ivfflat_serve_topk", _IVF_TRAINED_ORACLE)
def sim_ivfflat_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve top-10 from the PERSISTED IVF-flat index: probe cells
    rank driver-side against the trained metadata centroids, the scan
    reads ONLY the probed cells' directories (partition pruning,
    plan-asserted), and candidates rank by EXACT rounded-6dp cosine
    to the inlined query — the flat rung's within-cell ranking is
    exact by definition. Must serve the IDENTICAL ranking to
    sim_ivf_trained_topk — the two share one oracle, the fourth
    instance of the persistence-loses-nothing proof
    (operators/similarity.py::ivfflat_index_serve)."""
    e = _quantized_embeddings(spark, sf_dir)
    meta = S.ivfflat_index_build(e, stage.path(sf_dir, "ivfflat_idx"))
    q = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0)
        .select("embedding").collect()[0][0]
    ]
    return S.ivfflat_index_serve(
        spark, stage.path(sf_dir, "ivfflat_idx"), meta, q, k=10, nprobe=2
    )


@query(
    "vec_sq_index_build",
    _SQ_CTE.rstrip()
    + _IVF_CELL_CTE
    + """
    SELECT sq.vec_id, CAST(ca.cell AS BIGINT) AS cell,
           CAST(sq.dim AS BIGINT) AS dim, CAST(sq.c AS BIGINT) AS code
    FROM sqcodes sq JOIN cellasg ca ON ca.vec_id = sq.vec_id
    """,
)
def vec_sq_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF+SQ index BUILD — the SQ rung's
    encode-once/serve-many sibling of vec_index_build /
    vec_residual_index_build: corpus-wide per-dimension bounds,
    broadcast-matmul cell assignment, exact-integer SQ8 codes, written
    as (vec_id, codes) parquet PARTITIONED BY cell
    (operators/similarity.py::sq_index_build). The read-back is the
    oracle-checked result, so the round trip through the persisted
    files is what's verified — declared in the EXPLODED
    ``(vec_id, cell, dim, code)`` shape (1-based dim, all int64)
    because top-level array columns sit outside the driver
    comparator's canonical domain (registry.py discipline); the
    persisted index keeps its packed codes layout."""
    e = _quantized_embeddings(spark, sf_dir)
    path = stage.path(sf_dir, "ivfsq_idx")
    S.sq_index_build(e, path)
    back = spark.read.parquet(path)
    return back.select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        F.posexplode("codes").alias("p", "code"),
    ).select(
        "vec_id", "cell",
        (F.col("p") + 1).cast("long").alias("dim"),
        F.col("code").cast("long").alias("code"),
    )


@query("sim_sq_serve_topk", _IVFSQ_ORACLE)
def sim_sq_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve top-10 from the PERSISTED IVF+SQ index — completing the
    encode-once/serve-many pair for the scalar-quantization rung:
    probe cells rank driver-side against the metadata centroids, the
    scan reads ONLY the probed cells' directories (partition pruning,
    plan-asserted) and ONLY the codes column, and the exact-integer
    asymmetric distance is the SAME _sq_dist6_expr arithmetic the
    inline sweep uses. Must serve the IDENTICAL ranking to
    sim_ivfsq_topk — the two share one oracle, which is the claim
    that persisting the SQ codes loses nothing
    (operators/similarity.py::sq_index_serve)."""
    e = _quantized_embeddings(spark, sf_dir)
    meta = S.sq_index_build(e, stage.path(sf_dir, "ivfsq_idx"))
    q = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0)
        .select("embedding").collect()[0][0]
    ]
    return S.sq_index_serve(
        spark, stage.path(sf_dir, "ivfsq_idx"), meta, q, k=10, nprobe=2
    )


#: Binary (sign-bit) scaffolding — the 1-bit/dimension rung of the
#: quantization ladder (FAISS IndexBinaryFlat): two 32-dim MSB-first
#: words per 64-dim vector, each an exact int64 in [0, 2^32); Hamming
#: distance = popcount(XOR) summed across words. Pure integer on both
#: engines — no float enters anywhere in encode or distance.
_BIN_CTE = """
    WITH v4 AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE), 4)) AS e
      FROM embeddings
    ), bw AS (
      SELECT vec_id,
             list_sum(list_transform(generate_series(1, 32),
               i -> CASE WHEN e[i] > 0
                    THEN (CAST(1 AS BIGINT) << (32 - i)) ELSE 0 END)) AS w0,
             list_sum(list_transform(generate_series(1, 32),
               i -> CASE WHEN e[32 + i] > 0
                    THEN (CAST(1 AS BIGINT) << (32 - i)) ELSE 0 END)) AS w1
      FROM v4
    ), qbw AS (SELECT w0 AS q0, w1 AS q1 FROM bw WHERE vec_id = 0),
    hd AS (
      SELECT bw.vec_id,
             CAST(bit_count(xor(bw.w0, qbw.q0))
                + bit_count(xor(bw.w1, qbw.q1)) AS BIGINT) AS hamming
      FROM bw, qbw
    )
"""


@query(
    "vec_binary_encode",
    _BIN_CTE
    + """
    SELECT vec_id, CAST(w0 AS BIGINT) AS w0, CAST(w1 AS BIGINT) AS w1
    FROM bw
    """,
)
def vec_binary_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) encode — the 1-bit/dimension, 256x-compression
    rung of the quantization ladder (FAISS IndexBinaryFlat): bit j of
    word w set iff dimension 32w+j of the 4dp vector is > 0, packed by
    an MSB-first integer fold (exact int64 in [0, 2^32) — both engines
    produce the identical words by construction; the oracle casts its
    list_sum words from HUGEINT back to BIGINT so the comparator sees
    int64 on both sides). Map-only, no training, no shuffle
    (operators/similarity.py::binary_encode)."""
    e = _quantized_embeddings(spark, sf_dir)
    return S.binary_encode(e)


@query(
    "sim_hamming_topk",
    _BIN_CTE
    + """
    SELECT vec_id, hamming FROM hd
    ORDER BY hamming ASC, vec_id ASC
    LIMIT 10
    """,
)
def sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming top-10 over the sign-bit words: popcount(XOR) summed
    across the two words — int64 end to end, zero rounding surface.
    The query's words are the same integer fold computed driver-side
    and inlined as two literals; one TakeOrdered is the only shuffle.
    With only 65 possible distances the id tie-break carries the
    determinism (operators/similarity.py::hamming_topk)."""
    e = _quantized_embeddings(spark, sf_dir)
    return S.hamming_topk(e, k=10, query_id=0)


@query(
    "sim_binary_rerank_topk",
    _BIN_CTE
    + """
    , sl AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY hamming ASC, vec_id ASC) AS rn
        FROM hd
      ) WHERE rn <= 50
    ), n4 AS (
      SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v4
    ), q4 AS (SELECT e AS qe, nrm AS qn FROM n4 WHERE vec_id = 0)
    SELECT n4.vec_id,
           round(list_sum(list_transform(generate_series(1, len(e)),
                                         i -> e[i] * qe[i]))
                 / (nrm * qn), 6) AS cos_sim
    FROM n4 JOIN sl ON sl.vec_id = n4.vec_id, q4
    ORDER BY cos_sim DESC, n4.vec_id ASC
    LIMIT 10
    """,
)
def sim_binary_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary cascade — the production shape for sign-bit
    codes: a 50-candidate Hamming shortlist (exact integer distance,
    deterministic hamming-ASC/id-ASC cut), then an exact rounded-6dp
    cosine rerank of ONLY those candidates. At 100 TB stage 1 sweeps
    8-byte signatures and stage 2 fetches 50 full vectors — O(R), not
    O(N) (operators/similarity.py::binary_rerank_topk)."""
    e = _quantized_embeddings(spark, sf_dir)
    return S.binary_rerank_topk(e, k=10, shortlist=50, query_id=0)


@query(
    "sim_pq_refine_topk",
    _PQ_CTE
    + _QTAB_CTE
    + """
    , adc AS (
      SELECT b.vec_id, round(sum(qtab.dq2), 6) AS adc_dist
      FROM best b JOIN qtab ON b.s = qtab.s AND b.cid = qtab.cid
      WHERE b.rn = 1
      GROUP BY b.vec_id
    ), sl AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rn
        FROM adc
      ) WHERE rn <= 100
    ), q2 AS (SELECT e AS qe FROM v4 WHERE vec_id = 0)
    SELECT v4.vec_id,
           round(list_sum(list_transform(generate_series(1, len(e)),
                 i -> (e[i] - qe[i]) * (e[i] - qe[i]))), 6) AS l2_dist
    FROM v4 JOIN sl ON sl.vec_id = v4.vec_id, q2
    ORDER BY l2_dist ASC, v4.vec_id ASC
    LIMIT 10
    """,
)
def sim_pq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + exact refine (FAISS IndexRefineFlat): the trained-codebook
    ADC sweep cuts a 100-candidate shortlist (adc_dist ASC, id ASC),
    and ONLY those candidates are re-ranked by exact rounded-6dp
    squared-L2 to the query — how production systems buy back the
    recall that 4-byte codes give up, at O(R) full-vector fetches.
    Measured here: the 8-codeword ADC top-10 alone recovers 1-3 of
    the exact-L2 top-10; refine at R=100 recovers 6-7 (published via
    sim_recall_report). Stage 1 reads codes corpus-wide, stage 2
    reads 100 vectors (operators/similarity.py::pq_refine_topk)."""
    e = _quantized_embeddings(spark, sf_dir)
    return S.pq_refine_topk(e, k=10, shortlist=100)


@query(
    "sim_knn_join",
    _VEC_CTE
    + """
    SELECT vec_id, nid, cos_sim, rn FROM (
      SELECT vec_id, nid, cos_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, nid ASC) AS rn
      FROM (
        SELECT a.vec_id AS vec_id, b.vec_id AS nid,
               round(list_sum(list_transform(generate_series(1, len(a.e)),
                                             i -> a.e[i] * b.e[i]))
                     / (a.nrm * b.nrm), 6) AS cos_sim
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id
      )
    ) WHERE rn <= 3
    """,
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-NN per vector, label-blocked (the same plan shape an LSH/IVF
    bucket id would drive at 100 TB)."""
    return S.knn_join_blocked(table(spark, sf_dir, "embeddings"), k=3)


@query(
    "text_tokenize",
    f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(regexp_extract_all(text, '[a-z0-9]+')) AS n_re_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_uniq,
           len(list_intersect(list_distinct(string_split(text, ' ')), {_STOP_SQL})) AS n_stop_kinds,
           len(list_filter(string_split(text, ' '),
                           t -> list_contains({_STOP_SQL}, t))) AS n_stop
    FROM documents
    """,
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tokenization stats (whitespace + regex tokenizers)."""
    return T.tokenize_stats(table(spark, sf_dir, "documents"))


@query(
    "text_tfidf",
    """
    WITH tokens AS (
      SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc, term, count(*) AS tf FROM tokens GROUP BY doc, term
    ), dfreq AS (
      SELECT term, count(*) AS df
      FROM (SELECT DISTINCT doc, term FROM tokens) GROUP BY term
    ), nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT tf.doc AS doc_id, tf.term, tf.tf, dfreq.df,
           round(tf.tf * ln(n_docs::DOUBLE / dfreq.df), 6) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN nd
    WHERE round(tf.tf * ln(n_docs::DOUBLE / dfreq.df), 6) >= 0.0
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF per (doc, term)."""
    return T.tfidf(table(spark, sf_dir, "documents"))


@query(
    "text_ngrams",
    """
    SELECT ngram, count(*) AS cnt FROM (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS ngram
      FROM (SELECT string_split(text, ' ') AS toks FROM documents)
    ) GROUP BY ngram
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts."""
    return T.ngram_counts(table(spark, sf_dir, "documents"), n=2)


@query(
    "text_lang_stats",
    """
    SELECT lang, source, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang, source
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus composition stats."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("total_tokens"),
    )


@query(
    "text_quality",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_measured,
           len(string_split(text, ' ')) AS n_tokens,
           round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                 / len(string_split(text, ' ')), 6) AS diversity,
           round(len(list_filter(string_split(text, ' '),
                                 t -> list_contains({_STOP_SQL}, t)))::DOUBLE
                 / len(string_split(text, ' ')), 6) AS stop_ratio,
           round((len(list_distinct(string_split(text, ' ')))::DOUBLE
                  / len(string_split(text, ' ')))
                 * (1 - len(list_filter(string_split(text, ' '),
                                        t -> list_contains({_STOP_SQL}, t)))::DOUBLE
                       / len(string_split(text, ' '))), 6) AS quality
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: diversity × (1 − stopword ratio)."""
    return T.quality_score(table(spark, sf_dir, "documents"))


@query(
    "text_langid",
    f"""
    SELECT doc_id, lang_true, round(r, 6) AS en_stop_ratio,
           CASE WHEN r >= 0.1 THEN 'en' ELSE 'other' END AS lang_pred
    FROM (
      SELECT doc_id, lang AS lang_true,
             len(list_filter(string_split(text, ' '),
                             t -> list_contains({_STOP_SQL}, t)))::DOUBLE
               / len(string_split(text, ' ')) AS r
      FROM documents
    )
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language-ID heuristic."""
    return T.language_id(table(spark, sf_dir, "documents"))


@query(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           md5(text) AS md5_fp,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                              t -> CAST(length(t) * 7 + ascii(t) AS BIGINT))),
             (acc, x) -> (acc * {T.FP_MULT} + x) % {T.FP_MOD}) AS rolling_fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 + rolling polynomial fingerprints per document."""
    return T.document_fingerprint(table(spark, sf_dir, "documents"))


@query(
    "multimodal_cols",
    """
    SELECT d.doc_id, d.lang, d.n_chars, e.label,
           len(string_split(d.text, ' ')) AS n_tokens,
           round(sqrt(list_sum(list_transform(e.embedding,
                                              x -> CAST(x AS DOUBLE) * x))), 6) AS vec_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One table carrying text + vector + scalars: documents⋈embeddings
    with per-modality derived columns in a single projection."""
    d, e = table(spark, sf_dir, "documents"), table(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "n_chars",
        "label",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.expr(f"round({S._norm_sql('embedding')}, 6)").alias("vec_norm"),
    )


@query(
    "text_token_count",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '\S+', 0)) AS n_ws_tokens,
           len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+', 0))
             AS n_bpe_tokens,
           round(length(text)::DOUBLE
                 / len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+', 0)),
                 6) AS chars_per_token
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for data budgeting: whitespace tokens + BPE-style
    regex pre-tokenization (the deterministic stage of a real BPE
    tokenizer) + chars-per-token. Map-only codegen; no UDF."""
    return T.token_counts(table(spark, sf_dir, "documents"))


@query(
    "sim_centroids",
    """
    SELECT label, i AS pos,
           round(avg(CAST(embedding[i + 1] AS DOUBLE)), 6) AS centroid_val
    FROM embeddings, range(64) t(i)
    GROUP BY label, i
    """,
)
def sim_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the k-means/IVF training step and
    the class-prototype builder): element-wise mean via posexplode +
    grouped avg — (label, dim) keyed, so the shuffle carries one scalar
    per vector element with full map-side combining, never whole
    vectors. Output long-form (label, pos, value): downstream either
    re-assembles arrays or joins per-dimension. DuckDB oracle indexes
    1-based; posexplode is 0-based — aligned via i+1."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"))
    )


@query(
    "sim_batch_topk",
    _VEC_CTE
    + """
    , q AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn FROM n WHERE vec_id < 5)
    SELECT q_id, vec_id, cos_sim, rk FROM (
        SELECT q.q_id, n.vec_id,
               round(list_sum(list_transform(generate_series(1, len(e)),
                     i -> e[i] * qe[i])) / (nrm * qn), 6) AS cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY round(list_sum(list_transform(generate_series(1, len(e)),
                         i -> e[i] * qe[i])) / (nrm * qn), 6) DESC,
                            n.vec_id ASC) AS BIGINT) AS rk
        FROM n, q
    ) WHERE rk <= 5
    """,
)
def sim_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN baseline: top-5 cosine neighbors for each of 5 query
    vectors in ONE corpus pass (broadcast query set, per-query top-k
    window) — the serving shape; see operators/similarity.py::
    batch_cosine_topk for the scale story."""
    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qvec")
    )
    return S.batch_cosine_topk(e, queries, k=5)


@query(
    "dedup_cross_corpus",
    """
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
    )
    SELECT doc_l, doc_r, jaccard FROM (
      SELECT b.doc_id AS doc_l, c.doc_id AS doc_r,
             round(len(list_intersect(b.t, c.t))::DOUBLE
                   / len(list_distinct(list_concat(b.t, c.t))), 6) AS jaccard
      FROM toks b JOIN toks c ON b.doc_id % 20 = 0 AND c.doc_id % 20 <> 0
    ) WHERE jaccard >= 0.9
    """,
)
def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening: token-set Jaccard ≥ 0.9 pairs
    between a NEW BATCH (doc_id % 20 = 0 — a deterministic 5% slice
    standing in for today's ingest) and the existing corpus — the
    R ⋈ S sibling of `dedup_near`'s self-join, via the asymmetric
    prefix-filtered join (operators/dedup.py::jaccard_join: one global
    token order over both sides, candidates = batch-prefix ×
    corpus-prefix per rare token, exact verify). The self-join
    alternative over batch ∪ corpus would pay the corpus × corpus
    quadrant for pairs this op never reports; here candidate volume
    scales with the batch. The oracle is the defining cross product."""
    d = table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 20 == 0)
    corpus = d.filter(F.col("doc_id") % 20 != 0)
    return D.jaccard_join(batch, corpus, threshold=0.9)


@query(
    "sim_range_search",
    """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v
    ), q AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 0)
    SELECT vec_id, cos_sim FROM (
      SELECT vec_id,
             round(list_sum(list_transform(generate_series(1, len(e)),
                                           i -> e[i] * qe[i]))
                   / (nrm * qn), 6) AS cos_sim
      FROM n, q
    ) WHERE cos_sim >= 0.2
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: EVERY vector with cosine ≥ 0.2
    of query vector 0 — top-k's filter-shaped sibling, and at scale the
    cheaper one: no ordering requirement means no per-partition heaps,
    no TakeOrderedAndProject merge, no result-size guess; the plan is a
    broadcast of one query vector + a map-only scored filter that
    parallelizes perfectly and streams matches out. This is the shape
    retrieval pipelines want for "give me everything above the
    relevance bar" (dedup gates, recall-first retrieval) where k is
    unknowable a priori."""
    e = table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return (
        e.crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.expr(_cos_sim_sql("embedding", "qvec")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.2)
    )


@query(
    "vec_truncate_renorm",
    """
    WITH t AS (
      SELECT vec_id,
             list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM t
    )
    SELECT vec_id, round(nrm, 6) AS trunc_norm,
           array_to_string(list_transform(e,
                 x -> CAST(CAST(floor(x / nrm * 1000000 + 0.5) AS BIGINT)
                           AS VARCHAR)), ',') AS unit_vec_q6
    FROM n
    """,
)
def vec_truncate_renorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style embedding truncation: keep the first 8
    dimensions and re-normalize — how MRL-trained embeddings trade
    accuracy for a k/d storage+compute cut (the coarse tier of a
    two-tier ANN: search truncated, re-rank full). Map-only codegen
    array lambdas, zero shuffle; components emitted as 1e-6-quantized
    integers (floor(x·1e6 + 0.5), the vec_normalize discipline —
    round-half-up on both engines, no double→string divergence)."""
    e = table(spark, sf_dir, "embeddings")
    t = e.select("vec_id", F.slice("embedding", 1, 8).alias("emb8"))
    comp = (
        lambda x: F.floor(x.cast("double") / F.col("nrm") * 1000000 + 0.5)
        .cast("long").cast("string")
    )  # noqa: E731
    return t.withColumn("nrm", F.expr(_norm_sql("emb8"))).select(
        "vec_id",
        F.round("nrm", 6).alias("trunc_norm"),
        F.concat_ws(",", F.transform("emb8", comp)).alias("unit_vec_q6"),
    )


@query(
    "sim_two_tier",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS e8
      FROM embeddings
    ), n AS (
      SELECT vec_id, e, e8,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm,
             sqrt(list_sum(list_transform(e8, x -> x * x))) AS nrm8
      FROM v
    ), q AS (
      SELECT e AS qe, e8 AS qe8, nrm AS qn, nrm8 AS qn8
      FROM n WHERE vec_id = 0
    ), coarse AS (
      SELECT vec_id, e, nrm, qe, qn,
             round(list_sum(list_transform(generate_series(1, len(e8)),
                                           i -> e8[i] * qe8[i]))
                   / (nrm8 * qn8), 6) AS coarse_sim
      FROM n, q
      ORDER BY coarse_sim DESC, vec_id LIMIT 50
    )
    SELECT vec_id, coarse_sim,
           round(list_sum(list_transform(generate_series(1, len(e)),
                                         i -> e[i] * qe[i]))
                 / (nrm * qn), 6) AS cos_sim
    FROM coarse ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def sim_two_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier (Matryoshka) ANN retrieval — the production pattern
    `vec_truncate_renorm` is the storage half of: tier 1 scores EVERY
    vector against the query in the truncated 8-dim space (a d/k
    compute cut; here 8/d of the FLOPs) and keeps the top-50
    candidates, tier 2 re-ranks ONLY those 50 with the exact full-dim
    cosine and returns the top-10. Both cuts are rounded-6 scores with
    vec_id tie-breaks — total order, so the candidate set (and thus
    the final ranking) is engine-deterministic, making the whole
    two-tier pipeline exactly SQL-oracle-able (unlike hash-dependent
    LSH/IVF, which are bounded-in-tests instead).

    Scale shape: tier 1 is a map-only broadcast-scalar scan +
    TakeOrdered(50) (no shuffle of the corpus); tier 2 touches 50 rows
    — free. At 100 TB the coarse tier is the only full pass and it
    reads 8 floats/row instead of d; recall depends on MRL training
    quality, which is the model's contract, not the engine's."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e8 = "slice(embedding, 1, 8)"
    q = e.filter(F.col("vec_id") == 0).selectExpr(
        "embedding AS qe", "slice(embedding, 1, 8) AS qe8"
    )
    coarse = (
        e.crossJoin(F.broadcast(q))
        .selectExpr(
            "vec_id",
            "embedding",
            "qe",
            f"{_cos_sim_sql(e8, 'qe8')} AS coarse_sim",
        )
        .orderBy(F.col("coarse_sim").desc(), "vec_id")
        .limit(50)
    )
    return (
        coarse.selectExpr(
            "vec_id",
            "coarse_sim",
            f"{_cos_sim_sql('embedding', 'qe')} AS cos_sim",
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


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
    e = table(spark, sf_dir, "embeddings")

    base = e.selectExpr(
        "vec_id",
        *[f"slice(embedding, {1 + 16 * i}, 16) AS s{i}" for i in range(4)],
    ).selectExpr(
        "vec_id",
        *[f"s{i}" for i in range(4)],
        *[f"{_norm_sql(f's{i}')} AS n{i}" for i in range(4)],
    )
    q = base.filter(F.col("vec_id") == 0).selectExpr(
        *[f"s{i} AS qs{i}" for i in range(4)],
        *[f"n{i} AS qn{i}" for i in range(4)],
    )
    per_q = [
        "greatest(" + ", ".join(
            f"round({_dot_sql(f'qs{qi}', f's{dj}')} / (qn{qi} * n{dj}), 6)"
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
    "sim_mips_transform",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, e,
             list_sum(list_transform(e, x -> x * x)) AS sq
      FROM v
    ), q AS (SELECT e AS qe FROM v WHERE vec_id = 0)
    SELECT vec_id,
           round(list_sum(list_transform(generate_series(1, len(e)),
                 i -> e[i] * qe[i])), 6) AS ip
    FROM n, q
    ORDER BY list_sum(list_transform(generate_series(1, len(e)),
             i -> e[i] * qe[i])) DESC, vec_id
    LIMIT 10
    """,
)
def sim_mips_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (MIPS) via the cosine reduction:
    augment every corpus vector with one extra coordinate
    √(M² − |x|²) (M = max corpus norm, one broadcast scalar) and the
    query with 0 — the augmented vectors all have norm M, so cosine
    order against the augmented corpus IS inner-product order
    (Bachrach et al.'s MIPS→NNS reduction). This matters because every
    ANN index in the package (`sim_lsh_topk`, `sim_ivf_topk`) speaks
    cosine; the transform lets them serve recommendation-style IP
    queries unchanged.

    The Spark plan RANKS by the augmented cosine (the reduction under
    test) and reports the plain inner product; the oracle ranks by
    inner product directly — the hash match across 10 rows is the
    end-to-end proof of order equivalence on this corpus. Shape: one
    scalar broadcast (M), one map-only score pass, TakeOrdered top-k."""
    n = table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "embedding AS e", f"{_norm_sql('embedding')} AS nrm"
    )
    m = n.agg(F.max("nrm").alias("M"))
    q = n.filter(F.col("vec_id") == 0).selectExpr("e AS qe", "nrm AS qn")
    scored = n.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(q)).selectExpr(
        "vec_id",
        f"{_dot_sql('e', 'qe')} AS ip",
        # augmented cosine: <(x, sqrt(M^2-|x|^2)), (q, 0)> / (M * |q|)
        f"{_dot_sql('e', 'qe')} / (M * qn) AS cos_aug",
    )
    return (
        scored.orderBy(F.col("cos_aug").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.round("ip", 6).alias("ip"))
    )


def _recall_oracle() -> str:
    """Compose the recall oracle from the ALREADY-REGISTERED oracle
    SQL of the exact / LSH / IVF top-k ops (each is a full WITH…SELECT;
    DuckDB accepts them as parenthesized subqueries) — one source of
    truth for the index formulas, zero drift."""
    ex = _ORACLES["sim_cosine_topk"]
    lsh = _ORACLES["sim_lsh_topk"]
    ivf = _ORACLES["sim_ivf_topk"]
    ivf_m = _ORACLES["sim_ivf_matrix_topk"]
    ivfpq = _ORACLES["sim_ivfpq_topk"]
    ivfpq_r = _ORACLES["sim_ivfpq_residual_topk"]
    sq = _ORACLES["sim_sq_topk"]
    ivfsq = _ORACLES["sim_ivfsq_topk"]
    ham = _ORACLES["sim_hamming_topk"]
    brr = _ORACLES["sim_binary_rerank_topk"]
    ivf_t = _ORACLES["sim_ivf_trained_topk"]
    refine = _ORACLES["sim_pq_refine_topk"]
    # Exact top-10 in the L2 metric on the 4dp vectors — the honest
    # baseline for the L2-ranked quantization rungs (SQ / IVFSQ /
    # PQ+refine); the angle-based rungs keep the cosine baseline.
    exact_l2 = """
    WITH v4 AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE), 4)) AS e
      FROM embeddings
    ), q AS (SELECT e AS qe FROM v4 WHERE vec_id = 0)
    SELECT vec_id FROM (
      SELECT v4.vec_id,
             round(list_sum(list_transform(generate_series(1, len(e)),
                   i -> (e[i] - qe[i]) * (e[i] - qe[i]))), 6) AS d2
      FROM v4, q
    ) ORDER BY d2 ASC, vec_id ASC LIMIT 10
    """

    def _hit(name: str, part: str, base: str) -> str:
        return f"""
      SELECT '{name}' AS method,
             CAST((SELECT count(*) FROM {part}
                   WHERE vec_id IN (SELECT vec_id FROM {base}))
                  AS BIGINT) AS n_hits"""

    rows = " UNION ALL ".join(
        [
            _hit("lsh", "lsh", "exact"),
            _hit("ivf", "ivf", "exact"),
            _hit("ivf_matrix", "ivf_m", "exact"),
            _hit("ivf_trained", "ivf_t", "exact"),
            _hit("ivfpq", "ivfpq", "exact"),
            _hit("ivfpq_residual", "ivfpq_r", "exact"),
            _hit("sq", "sq", "exact_l2"),
            _hit("ivfsq", "ivfsq", "exact_l2"),
            _hit("pq_refine", "refine", "exact_l2"),
            _hit("hamming", "ham", "exact"),
            _hit("binary_rerank", "brr", "exact"),
        ]
    )
    return f"""
    WITH exact AS (SELECT vec_id FROM ({ex})),
    exact_l2 AS (SELECT vec_id FROM ({exact_l2})),
    lsh AS (SELECT vec_id FROM ({lsh})),
    ivf AS (SELECT vec_id FROM ({ivf})),
    ivf_m AS (SELECT vec_id FROM ({ivf_m})),
    ivfpq AS (SELECT vec_id FROM ({ivfpq})),
    ivfpq_r AS (SELECT vec_id FROM ({ivfpq_r})),
    sq AS (SELECT vec_id FROM ({sq})),
    ivfsq AS (SELECT vec_id FROM ({ivfsq})),
    refine AS (SELECT vec_id FROM ({refine})),
    ivf_t AS (SELECT vec_id FROM ({ivf_t})),
    ham AS (SELECT vec_id FROM ({ham})),
    brr AS (SELECT vec_id FROM ({brr}))
    SELECT method, n_hits, round(CAST(n_hits AS DOUBLE) / 10, 2) AS recall
    FROM ({rows})
    """


@query("sim_recall_report", _recall_oracle())
def sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a first-class queryable artifact: recall@10 of
    the sign-LSH and IVF indexes against the exact top-10 for the
    standard query (vector 0) — the number an index owner must publish
    before anyone trusts approximate retrieval, produced by the SAME
    engine run that serves it. The unit tests bound recall; this op
    makes the measurement reproducible on demand at any corpus size
    (three bounded top-k pipelines + two 10-row intersections).

    The oracle is COMPOSED from the registered oracle SQL of the three
    underlying ops (`_recall_oracle`) — the index formulas exist in
    exactly one place per engine."""
    e = table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    exact = S.cosine_topk(e, qv, k=10).select("vec_id")
    lsh = S.lsh_topk(e, qv, k=10).select("vec_id")
    ivf = S.ivf_topk(e, k=10, query_id=0).select("vec_id")
    # Round 11: the broadcast-matrix assignment path, measured through
    # the SAME report (round-10 verdict #4 — recall must be a
    # published number for every index variant, not an assertion).
    ivf_m = S.ivf_topk_matrix(e, k=10, query_id=0).select("vec_id")
    # Round 12: the composed IVF+PQ serving path (trained codebook,
    # cell-probed ADC) — reuse the registered query so the report
    # measures exactly what sim_ivfpq_topk serves.
    ivfpq = sim_ivfpq_topk(spark, sf_dir).select("vec_id")
    ivfpq_r = sim_ivfpq_residual_topk(spark, sf_dir).select("vec_id")
    # Round 13: the SQ / IVFSQ / PQ+refine rungs (L2-ranked — measured
    # against the exact L2 top-10 on the same 4dp vectors) and the
    # binary rung (angle-approximating — cosine baseline). Each reuses
    # the registered query so the report measures exactly what the op
    # serves.
    e4 = _quantized_embeddings(spark, sf_dir)
    ql2 = [
        float(x)
        for x in e4.filter(F.col("vec_id") == 0)
        .select("embedding").collect()[0][0]
    ]
    exact_l2 = (
        e4.select(
            "vec_id", F.expr(f"round({S._sq_l2_sql('embedding', ql2)}, 6)").alias("d2")
        )
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id")
    )
    sq = sim_sq_topk(spark, sf_dir).select("vec_id")
    ivfsq = sim_ivfsq_topk(spark, sf_dir).select("vec_id")
    refine = sim_pq_refine_topk(spark, sf_dir).select("vec_id")
    ham = sim_hamming_topk(spark, sf_dir).select("vec_id")
    brr = sim_binary_rerank_topk(spark, sf_dir).select("vec_id")
    ivf_t = sim_ivf_trained_topk(spark, sf_dir).select("vec_id")

    def hits(
        df: DataFrame, name: str, base: Optional[DataFrame] = None
    ) -> DataFrame:
        return (
            df.join(base if base is not None else exact,
                    "vec_id", "left_semi")
            .agg(
                F.lit(name).alias("method"),
                F.count(F.lit(1)).alias("n_hits"),
            )
            .select(
                "method", "n_hits",
                F.round(F.col("n_hits").cast("double") / 10, 2)
                .alias("recall"),
            )
        )

    return (
        hits(lsh, "lsh")
        .unionByName(hits(ivf, "ivf"))
        .unionByName(hits(ivf_m, "ivf_matrix"))
        .unionByName(hits(ivf_t, "ivf_trained"))
        .unionByName(hits(ivfpq, "ivfpq"))
        .unionByName(hits(ivfpq_r, "ivfpq_residual"))
        .unionByName(hits(sq, "sq", exact_l2))
        .unionByName(hits(ivfsq, "ivfsq", exact_l2))
        .unionByName(hits(refine, "pq_refine", exact_l2))
        .unionByName(hits(ham, "hamming"))
        .unionByName(hits(brr, "binary_rerank"))
    )


_MMR_LAMBDA = 0.7


_MMR_POOL = 20  #: candidate pool (top-20 by relevance)


_MMR_K = 5      #: results returned


@query("sim_diversity_mmr")  # rows-only: greedy selection has no SQL form
def sim_diversity_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: from the top-20
    cosine candidates for query vector 0, greedily pick 5 maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked — the
    diversification step retrieval systems run so the answer set isn't
    five near-duplicates of the same document (λ=0.7).

    The greedy recurrence (each pick depends on all prior picks) has no
    SQL form; but the POOL is k-bounded metadata (20 rows), so the walk
    runs driver-side on the collected candidate pairs — the same
    bounded-collect class as k centroids (operators/similarity.py). The
    cluster-scale work — scoring the corpus and the 20×20 pairwise
    matrix — stays distributed. Rows-only; the unit test replays the
    greedy walk and pins selections."""
    e = table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    pool = S.cosine_topk(e, qv, k=_MMR_POOL)  # vec_id, cos_sim
    cand = pool.join(e, "vec_id").select(
        "vec_id", "cos_sim",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a, b = cand.alias("a"), cand.alias("b")
    pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("u"), F.col("b.vec_id").alias("v"),
            F.expr(S._cos_sim_sql("a.v", "b.v")).alias("s"),
        )
        .collect()
    )  # <= C(20,2) = 190 rows — metadata, like the k-centroid collects
    rel = {r.vec_id: r.cos_sim for r in cand.select("vec_id", "cos_sim").collect()}
    sim = {}
    for r in pairs:
        sim[(r.u, r.v)] = r.s
        sim[(r.v, r.u)] = r.s
    picked: list[int] = []
    while len(picked) < _MMR_K and len(picked) < len(rel):
        best = max(
            (x for x in rel if x not in picked),
            key=lambda x: (
                _MMR_LAMBDA * rel[x]
                - (1 - _MMR_LAMBDA)
                * max((sim.get((x, p), 1.0) for p in picked), default=0.0),
                -x,
            ),
        )
        picked.append(best)
    rows = [
        (i + 1, v, float(rel[v])) for i, v in enumerate(picked)
    ]
    return spark.createDataFrame(
        rows, "rank int, vec_id long, relevance double"
    )


@query(
    "dedup_cluster_profile",
    """
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
      FROM documents
    ), pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.t, b.t))::DOUBLE
                     / len(list_distinct(list_concat(a.t, b.t))), 6)
                 AS jaccard
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.9
    ), edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node
    ), comp AS (
      SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    ), sizes AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz FROM comp
      GROUP BY cluster_id
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY sz
    """,
)
def dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile: the near-dup cluster SIZE distribution and
    the dedup dividend — per size: cluster count, docs covered, and
    docs removable under keep-one (Σ(size−1) is exactly the corpus
    shrinkage dedup will deliver; the number that justifies running it
    at all). Composes `dedup_near` pairs → exact connected components →
    a metadata-size histogram; the oracle replays the closure as the
    same recursive CTE `dedup_cluster` pins."""
    docs = table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold=0.9).select("doc_a", "doc_b")
    comp = D.connected_components(
        docs.select("doc_id"), pairs, node_col="doc_id",
        src_col="doc_a", dst_col="doc_b",
    )
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
        F.sum(F.col("sz") - 1).cast("long").alias("n_removable"),
    )
