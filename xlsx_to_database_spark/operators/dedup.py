"""Deduplication operators (SURVEY.md §2.10): exact, n-gram Jaccard,
MinHash-LSH, SimHash, embedding-cosine.

Scale design notes (the 100 TB story for each):

- `dedup_exact`: hash-partition on the dedup key, keep the min-ordered
  row per group — one shuffle, no sort of the full data.
- `jaccard_pairs`: candidate generation by *prefix filtering* (the
  AllPairs/PPJoin principle), then exact verification. Tokens get a
  global total order (document frequency ascending, then token); each
  doc blocks only on its first ``|s| − ⌈t·|s|⌉ + 1`` tokens under that
  order. Exactness: if J(x,y) ≥ t then o = |x∩y| ≥ t·|x∪y| ≥
  ⌈t·|x|⌉; were the smallest shared token outside x's prefix, all o
  shared tokens would sit in x's ⌈t·|x|⌉−1 suffix slots — contradiction
  (symmetrically for y). So every qualifying pair shares a prefix token
  and recall is 100%, while common tokens (high df) sort to the suffix
  and never explode the candidate join — this is what keeps the exact
  op sub-quadratic on web corpora instead of degenerating to all-pairs
  on the most frequent token.
- `minhash_lsh_pairs`: k deterministic hash functions (xxhash64 with
  fixed seeds — no RNG), banded; only docs agreeing on a whole band
  join. Sub-quadratic candidate generation, tunable recall.
- `simhash_pairs`: 64-bit fingerprint; chunk-banding finds all pairs
  within Hamming distance < n_chunks (pigeonhole guarantee).
- `embedding_near_pairs`: exact cosine over blocked pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xlsx_to_database_spark.operators.similarity import _cos_sim_sql, _quote


def dedup_exact(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Drop duplicates on `keys`, deterministically keeping the row with
    the smallest `order_col` (dropDuplicates keeps an arbitrary row —
    fine for pipelines, useless for reproducible corpora)."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _token_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(F.split(F.col(text_col), " ")).alias("toks"),
    )


def jaccard_prefix_candidates(toks: DataFrame, threshold: float) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs via prefix filtering.

    ``toks`` is (doc, toks: array<string> distinct). Tokens are totally
    ordered by (corpus document frequency asc, token asc) — rare first —
    and each doc contributes only its first ``n − ⌈t·n⌉ + 1`` tokens to
    the blocking join. Zero false negatives for Jaccard ≥ threshold (see
    module docstring proof); candidate volume is bounded by the df of
    *rare* tokens, so a token shared by every document generates no
    pairs at all once t > 0.

    Scale shape: one explode + token-df aggregate, one per-doc window to
    rank tokens (partitioned by doc — no global sort), one self-join on
    prefix tokens. The df join is unhinted; AQE broadcasts the token
    dimension while it is small and falls back to shuffle when vocab
    grows past the threshold.
    """
    blocks = toks.select("doc", F.size("toks").alias("n"), F.explode("toks").alias("tok"))
    tok_df = blocks.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_df"))
    w = Window.partitionBy("doc").orderBy(F.col("tok_df").asc(), F.col("tok").asc())
    # The 1e-9 slack mirrors the length filter's: an exact-integer
    # product nudged one ULP high by float representation (e.g.
    # 0.7d*10) would otherwise ceil one too far and shorten the
    # prefix, silently dropping qualifying pairs at such thresholds.
    prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)) + 1
    prefixes = (
        blocks.join(tok_df, "tok")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= prefix_len)
        .select("doc", "tok", "n")
    )
    # Length filter (the other AllPairs prune): J ≥ t forces
    # t·|A| ≤ |B| ≤ |A|/t, so size-mismatched pairs drop before the
    # expensive token-array verify join. The 1e-9 slack keeps integer
    # boundary sizes (|B| = t·|A| exactly) from being lost to float
    # rounding of the product.
    return (
        prefixes.alias("x")
        .join(prefixes.alias("y"), on="tok")
        .filter(
            (F.col("x.doc") < F.col("y.doc"))
            & (F.col("y.n") >= F.lit(threshold) * F.col("x.n") - F.lit(1e-9))
            & (F.col("x.n") >= F.lit(threshold) * F.col("y.n") - F.lit(1e-9))
        )
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", threshold: float = 0.9
) -> DataFrame:
    """All document pairs (a<b) with token-set Jaccard ≥ threshold.

    Exact: prefix-filtered candidates (zero false negatives — see
    `jaccard_prefix_candidates`) verified per pair as
    |A∩B| / (|A| + |B| − |A∩B|) — one `array_intersect` and two
    precomputed set sizes, skipping `array_union`'s per-pair allocation
    (the verify join runs once per candidate; on near-dup-dense corpora
    candidates ≈ true pairs ≈ quadratic in the dup-cluster sizes, so the
    per-pair constant is what the wall-clock scales by). Rounded to 6dp
    before thresholding so the cut is engine-stable.
    """
    toks = _token_sets(df, id_col, text_col)
    cand = jaccard_prefix_candidates(toks, threshold)
    a = toks.select(
        F.col("doc").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.size("toks").alias("na"),
    )
    b = toks.select(
        F.col("doc").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.size("toks").alias("nb"),
    )
    # Two-step projection: `inter` lands as a real column so the
    # numerator and denominator reference it once (a single projection
    # would inline — and risk re-evaluating — the intersect twice).
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("inter"),
            "na",
            "nb",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= threshold)


def jaccard_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
) -> DataFrame:
    """Asymmetric (R ⋈ S) near-dup join: pairs (left_id, right_id) with
    token-set Jaccard ≥ threshold — the "dedup the new batch against the
    existing corpus" shape, where a self-join over batch ∪ corpus would
    waste the corpus × corpus work.

    Same prefix-filtering exactness argument as the self-join
    (module docstring): both sides' tokens are ranked under ONE global
    order — document frequency over left ∪ right, then token — and each
    doc blocks on its first ``n − ⌈t·n⌉ + 1`` tokens. A qualifying pair
    shares ≥ ⌈t·max(|x|,|y|)⌉ tokens, so the smallest shared token under
    the common order sits inside both prefixes; candidates therefore
    have 100% recall, and the length filter prunes size-mismatched pairs
    before the verify join. Candidate volume is left-prefix × right-
    prefix per rare token — sub-quadratic, and proportional to the BATCH
    size on the blocking side rather than the corpus."""
    lt = _token_sets(left, id_col, text_col)
    rt = _token_sets(right, id_col, text_col)
    # One consistent token order across both sides: df over the union.
    blocks_l = lt.select("doc", F.size("toks").alias("n"), F.explode("toks").alias("tok"))
    blocks_r = rt.select("doc", F.size("toks").alias("n"), F.explode("toks").alias("tok"))
    tok_df = (
        blocks_l.select("tok")
        .unionAll(blocks_r.select("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tok_df"))
    )
    w = Window.partitionBy("doc").orderBy(F.col("tok_df").asc(), F.col("tok").asc())
    # The 1e-9 slack mirrors the length filter's: an exact-integer
    # product nudged one ULP high by float representation (e.g.
    # 0.7d*10) would otherwise ceil one too far and shorten the
    # prefix, silently dropping qualifying pairs at such thresholds.
    prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)) + 1

    def prefixes(blocks: DataFrame) -> DataFrame:
        return (
            blocks.join(tok_df, "tok")
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= prefix_len)
            .select("doc", "tok", "n")
        )

    cand = (
        prefixes(blocks_l).alias("x")
        .join(prefixes(blocks_r).alias("y"), on="tok")
        .filter(
            (F.col("y.n") >= F.lit(threshold) * F.col("x.n") - F.lit(1e-9))
            & (F.col("x.n") >= F.lit(threshold) * F.col("y.n") - F.lit(1e-9))
        )
        .select(F.col("x.doc").alias("doc_l"), F.col("y.doc").alias("doc_r"))
        .distinct()
    )
    a = lt.select(
        F.col("doc").alias("doc_l"), F.col("toks").alias("toks_l"),
        F.size("toks").alias("nl"),
    )
    b = rt.select(
        F.col("doc").alias("doc_r"), F.col("toks").alias("toks_r"),
        F.size("toks").alias("nr"),
    )
    scored = (
        cand.join(a, "doc_l")
        .join(b, "doc_r")
        .select(
            "doc_l", "doc_r",
            F.size(F.array_intersect("toks_l", "toks_r")).alias("inter"),
            "nl", "nr",
        )
        .select(
            "doc_l", "doc_r",
            F.round(
                F.col("inter").cast("double")
                / (F.col("nl") + F.col("nr") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    shingle: int = 3,
) -> DataFrame:
    """Directional containment pairs: (doc_a, doc_b, containment) where
    C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ threshold over word
    ``shingle``-gram sets — the "is A swallowed by B" screen that
    Jaccard misses by construction (a tweet quoted inside an article has
    J ≈ 0 but C ≈ 1; boilerplate wrappers, quote-inclusion, and
    near-superset templating all live here). Shingles, not tokens: on
    any real corpus the token-set version is degenerate (every short doc
    is token-contained in some long one), while shingle containment
    pins word ORDER, which is what quoting preserves.

    Candidate generation is the asymmetric prefix filter: A blocks on
    its ``n − ⌈t·n⌉ + 1`` rarest shingles (corpus-df order, same total
    order as `jaccard_prefix_candidates`), B blocks on ALL its
    shingles. Zero false negatives: C ≥ t means |shared| ≥ ⌈t·|A|⌉, and
    were every shared shingle outside A's prefix they would all sit in
    A's ⌈t·|A|⌉ − 1 suffix slots — contradiction; B carries every
    shingle, so the pair meets on that prefix shingle. Containment has
    NO upper length filter (a 10-shingle doc can be contained in a
    10M-shingle one — that asymmetry is the measure's point), so the
    candidate bound leans entirely on shingle rarity; shingle df is
    low by construction (n-gram space is vast), which is also why the
    B-side's unpruned blocking stays sub-quadratic where token-level
    blocking would not.

    Shape note — fully RELATIONAL on purpose: shingles are (doc, tok)
    ROWS built from posexplode + lead windows, the per-doc set via
    DISTINCT, and |A∩B| via a join-aggregate over candidate pairs. The
    array formulation (transform-lambda shingles + array_intersect
    verify) is pathological under Catalyst: higher-order functions are
    CodegenFallback, and projection collapse inlines the whole shingle
    expression into Filter/Generate/scan nodes where it re-evaluates
    per EXPLODED row — measured 8 s versus 0.4 s for the same blocks
    stage on 5k docs. Rows keep every stage in whole-stage codegen and
    shuffle only (doc, tok) pairs, which is also the shape that scales:
    no per-row array payloads ride the exchanges."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
    )
    wd = Window.partitionBy("doc").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", j).over(wd) for j in range(1, shingle)]
    # when() guards the tail: a (shingle-1)-token suffix must not emit a
    # short gram (concat_ws silently skips NULLs).
    sh_rows = (
        toks.select(
            "doc",
            F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
        .distinct()
    )
    n_rows = sh_rows.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    tok_df = sh_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_df"))
    w = Window.partitionBy("doc").orderBy(F.col("tok_df").asc(), F.col("tok").asc())
    # Same 1e-9 ULP slack as the Jaccard prefixes.
    prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)) + 1
    a_prefix = (
        sh_rows.join(n_rows, "doc")
        .join(tok_df, "tok")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= prefix_len)
        .select(F.col("doc").alias("doc_a"), "tok")
    )
    cand = (
        a_prefix.join(sh_rows.select(F.col("doc").alias("doc_b"), "tok"), on="tok")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # |A∩B| as a join-aggregate: expand candidates by A's shingles, keep
    # those B also has, count per pair.
    inter = (
        cand.join(sh_rows.select(F.col("doc").alias("doc_a"), "tok"), "doc_a")
        .join(sh_rows.select(F.col("doc").alias("doc_b"), "tok"), ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    scored = inter.join(
        n_rows.select(F.col("doc").alias("doc_a"), F.col("n").alias("na")), "doc_a"
    ).select(
        "doc_a",
        "doc_b",
        F.round(F.col("inter").cast("double") / F.col("na"), 6).alias("containment"),
    )
    return scored.filter(F.col("containment") >= threshold)


# (The old transform-lambda `_shingles` array builder was removed: every
# consumer now builds shingles either as relational (doc, tok) rows
# (containment_pairs) or as combined token hashes (minhash/simhash) —
# both immune to the CollapseProject HOF re-inlining trap documented in
# containment_pairs and SCALE.md round 5.)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs via deterministic MinHash + LSH banding.

    Each of `num_hashes` signatures is min(xxhash64(seed_i ++ shingle));
    signatures are grouped into bands of `band_size`; documents agreeing
    on an entire band become candidates. Fully deterministic (fixed
    seeds, no RNG) → stable across runs and partitionings. Returns
    (doc_a, doc_b, n_bands) — downstream verification (e.g.
    `jaccard_pairs` on the candidate set) filters false positives.
    """
    # Hash shingles WITHOUT materializing n-gram strings: hash each token
    # once, then combine 3 consecutive token-hashes per shingle. The
    # expensive variable-length string hashing happens once per token;
    # everything downstream is fixed-width long hashing. The shared
    # `shingle_hashes` subtree is evaluated once per row by whole-stage
    # codegen CSE (same trick as simhash64), and each of the `num_hashes`
    # signatures re-mixes the precomputed longs — measured ~5× faster
    # than hashing concat_ws shingle strings per seed.
    n = 3  # shingle width (word trigrams)
    # Shingle hashes are computed WITHOUT materializing n-gram strings:
    # hash every token once, then zip_with over shifted slices combines n
    # consecutive token-hashes per shingle — the expensive variable-width
    # string hashing is one pass, everything after is fixed-width long
    # mixing. (An element_at-by-index formulation is a trap here:
    # CollapseProject re-inlines the token-hash array into every index
    # access, silently making the pass O(tokens²) per doc — measured 5.4s
    # vs 0.4s on 5k docs.)
    #
    # r13: the whole expression surface is built as SQL STRINGS parsed
    # JVM-side in a handful of calls (selectExpr / F.expr), not as a
    # Column-DSL tree: the DSL form issued ~1,400 py4j socket
    # round-trips PER CALL (cProfile: 84% of a 0.9 s plan-construction
    # phase sat in socket recv) — the 16 signature aggregates and the
    # band structs alone were ~0.5 s of driver latency before any job
    # ran. Parsed and DSL forms resolve to the identical expression
    # tree (output verified row-identical); build 0.47 s → 0.14 s and
    # the analyzed plan also executes slightly faster.
    th = f"transform(split({_quote(text_col)}, ' '), t -> xxhash64(t))"
    w = f"greatest(size({th}) - {n - 1}, 0)"
    grams = (
        f"zip_with(zip_with(slice({th}, 1, {w}), slice({th}, 2, {w}), "
        f"(a, b) -> xxhash64(a, b)), slice({th}, 3, {w}), "
        f"(p, c) -> xxhash64(p, c))"
    )

    # One shingle row per (doc, hash) via a generator, then the
    # `num_hashes` signature minima as ONE grouped aggregate: the shingle
    # chain is evaluated exactly once per document (a per-signature
    # array_min would re-inline it num_hashes times), the per-shingle
    # work is num_hashes cheap long-hashes, and partial aggregation means
    # the shuffle carries only num_hashes longs per doc.
    exploded = df.selectExpr(
        f"{_quote(id_col)} AS doc", f"explode({grams}) AS h"
    )
    sig = exploded.groupBy("doc").agg(
        *[
            F.expr(f"min(xxhash64({seed}, h)) AS mh{seed}")
            for seed in range(num_hashes)
        ]
    )
    n_bands = num_hashes // band_size
    structs = ", ".join(
        "struct({b} AS band, xxhash64({cols}) AS sig)".format(
            b=b,
            cols=", ".join(
                f"mh{b * band_size + j}" for j in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    bands = sig.selectExpr("doc", f"inline(array({structs}))")
    return (
        bands.alias("x")
        .join(bands.alias("y"), on=["band", "sig"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .groupBy(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def simhash64(text_col: str, weight_by_count: bool = False):
    """64-bit SimHash of the space-tokenized text column named
    ``text_col``, as a long.

    bit_i(simhash) = 1 iff Σ_tokens (2·bit_i(xxhash64(token)) − 1) > 0.
    Pure expression tree (64 shifted-sum terms over the token array) —
    codegen'd JVM math, one pass, no shuffle. The tree is SQL text, so
    it parses in one py4j call. Each token is hashed once into a shared
    hashes array; the 64 per-bit aggregates reference that identical
    subtree, which whole-stage codegen's subexpression elimination
    evaluates once per row (measured ~10% faster than hashing inside
    each bit's lambda; a 64-element bit-vector ``zip_with`` variant
    measured 2× slower). ``shiftleft(1L, 63)`` wraps to the sign
    bit, the correct bit-63 mask.
    """
    toks = f"split({_quote(text_col)}, ' ')"
    if not weight_by_count:
        toks = f"array_distinct({toks})"
    hashes = f"transform({toks}, t -> xxhash64(t))"
    terms = " + ".join(
        f"CASE WHEN aggregate({hashes}, 0L, "
        f"(a, h) -> a + ((shiftright(h, {i}) & 1) * 2 - 1)) > 0 "
        f"THEN shiftleft(1L, {i}) ELSE 0L END"
        for i in range(64)
    )
    return F.expr(f"0L + {terms}")


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """Pairs within Hamming distance `max_hamming` of their SimHashes.

    Banding on `n_chunks` 16-bit chunks: any pair with fewer than
    `n_chunks` differing bits agrees on ≥1 chunk (pigeonhole), so
    recall is exact for max_hamming < n_chunks. Join fan-out is per
    identical chunk value — sub-quadratic on real corpora.
    """
    sh = df.select(F.col(id_col).alias("doc"), simhash64(text_col).alias("sh"))
    chunk_bits = 64 // n_chunks
    chunks = sh.select(
        "doc",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sh"), c * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cv"),
    ).select("doc", "sh", "cv.chunk", "cv.val")
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), on=["chunk", "val"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("x.sh").alias("sh_a"),
            F.col("y.sh").alias("sh_b"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Label every node with the smallest node id in its connected
    component — the step that turns near-dup *pairs* into dedup *groups*
    (keep min-id per cluster, drop the rest).

    Iterative hash-to-min label propagation: every node starts as its own
    label; each round pushes labels across edges and keeps the per-node
    minimum; converged when the global label sum stops falling (labels
    only ever decrease, so equal sums ⇔ fixed point). Rounds needed =
    graph diameter — single digits for dup clusters, which are dense
    blobs, not paths. Each round is one join + one aggregate, all
    shuffles on the node key; `localCheckpoint` truncates lineage so plan
    depth stays O(1) per round instead of O(rounds). At true
    billion-edge scale the alternating large-star/small-star variant
    (Kiveris et al., "Connected Components in MapReduce") halves round
    count; the join/min-agg core below is unchanged.

    Returns (``node_col``, cluster_id).
    """
    # Undirected: propagate both ways. Checkpointed ONCE up front —
    # edges are reused every round, and without the checkpoint each
    # round re-executes the whole upstream pair-generation pipeline
    # (e.g. the Jaccard candidate+verify join), turning an O(diameter)
    # loop into O(diameter × pair-pipeline).
    sym = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .unionByName(edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d")))
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(F.col(node_col).alias("n"), F.col(node_col).alias("lbl"))
    labels = labels.localCheckpoint(eager=True)
    # Label sums only decrease; decimal(38,0) so a 10^9-node × 10^18-id
    # sum can't overflow the convergence check.
    prev_sum = labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).collect()[0][0]
    # TWO propagation rounds per materialization + convergence check
    # (r14, VERDICT r13 item 6): each checkpoint/sum pair costs two
    # fixed-overhead job submissions, and dup-cluster diameters are
    # single digits, so halving the actions halves the driver's
    # per-round tax. Labels only decrease, so an unchanged sum after a
    # DOUBLE round still certifies the fixpoint exactly (if the first
    # inner round changed any label the sum strictly fell); the
    # converged result is identical, at the cost of one overshoot
    # propagation at the fixpoint. Total propagations remain capped at
    # exactly max_iter (an odd bound makes the final action a single
    # round).
    done = 0
    while done < max_iter:
        for _ in range(min(2, max_iter - done)):
            prop = sym.join(labels, sym.s == labels.n).select(
                F.col("d").alias("n"), F.col("lbl")
            )
            labels = (
                labels.unionByName(prop)
                .groupBy("n")
                .agg(F.min("lbl").alias("lbl"))
            )
            done += 1
        labels = labels.localCheckpoint(eager=True)
        cur_sum = labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("n").alias(node_col), F.col("lbl").alias("cluster_id"))


def embedding_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.4,
) -> DataFrame:
    """Pairs (a<b) with cosine ≥ threshold. With `block_col` the join is
    per-block (the scalable path: LSH/IVF bucket id); without, it is the
    exact all-pairs baseline for oracle checking."""
    a = df.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"), F.col(block_col).alias("blk_a") if block_col else F.lit(0).alias("blk_a"))
    b = df.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"), F.col(block_col).alias("blk_b") if block_col else F.lit(0).alias("blk_b"))
    return (
        a.join(b, (F.col("blk_a") == F.col("blk_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", F.expr(_cos_sim_sql("va", "vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
