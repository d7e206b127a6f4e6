"""Corpus-curation operators — the selection/packing stages of an LLM
training-data pipeline that sit between raw scans and dedup/similarity:
sequence packing, per-source caps, percentile quality gates, PII
redaction, and embedding quantization.

Scale notes:
- ``seq_pack`` is concat-then-chunk packing (the GPT-style pretraining
  shape: documents are concatenated per source and sliced into
  fixed-budget context windows, so a doc can straddle chunks). One
  running-sum window per source — a single shuffle+sort on the source
  key; chunk ids are integer arithmetic on the cumulative offset, no
  second pass, no driver loop.
- ``corpus_cap_per_source`` is the anti-domination rule (no source may
  contribute more than K docs): one `row_number` window per source.
  Skew-safe: a source with a billion docs still ranks inside its own
  partition; for pathological single-source corpora the salting pattern
  from `join_skew_salted` applies unchanged.
- ``corpus_quality_gate`` computes ONE corpus-wide exact percentile
  (a single-row aggregate, broadcast back by AQE) and filters against
  it — at 100 TB swap `percentile` for `percentile_approx` (mergeable
  t-digest) without touching the filter side.
- ``pii_redact`` is pure codegen `regexp_replace` — a map-only pass, no
  shuffle anywhere. Patterns stay in the RE2-safe subset so the DuckDB
  oracle matches byte-for-byte (no lookahead, no backrefs).
- ``vec_quantize_int8`` does per-vector symmetric int8 quantization
  (scale = 127/max|x|) as array lambda math — map-only, and the 4×
  size cut is exactly what you want BEFORE shuffling vectors into an
  ANN index build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators.similarity import _arr_sql, _dot_sql, _norm_sql
from xlsx_to_database_spark.registry import query

#: Context-window token budget for seq_pack (tokens per packed chunk).
PACK_BUDGET = 512


@query(
    "seq_pack",
    f"""
    SELECT source, doc_id, n_tokens, start_off,
           start_off // {PACK_BUDGET} AS first_chunk,
           (start_off + n_tokens - 1) // {PACK_BUDGET} AS last_chunk,
           (start_off + n_tokens - 1) // {PACK_BUDGET}
             - start_off // {PACK_BUDGET} + 1 AS n_chunks
    FROM (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(sum(len(string_split(text, ' '))) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - len(string_split(text, ' ')) AS BIGINT) AS start_off
        FROM documents
    )
    """,
)
def seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, concat-then-chunk style: per source, documents
    are laid end-to-end in doc_id order and sliced into PACK_BUDGET-token
    context windows; each doc reports its byte... token offset and the
    chunk span it lands in (docs may straddle chunk boundaries — that is
    the semantics of pretraining packing, not a bug). One running-sum
    window per source; chunk ids are integer division on the offset."""
    d = table(spark, sf_dir, "documents")
    # n_tokens lands as a real column BEFORE the window: referencing the
    # size(split(...)) expression after the window re-inlines it, which
    # both recomputes the split and — worse — drags the full text column
    # through the shuffle. This projection ships 3 narrow columns.
    counted = d.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = counted.select(
        "source",
        "doc_id",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long").alias("start_off"),
    )
    first = F.expr(f"start_off div {PACK_BUDGET}")
    last = F.expr(f"(start_off + n_tokens - 1) div {PACK_BUDGET}")
    return packed.select(
        "source",
        "doc_id",
        "n_tokens",
        "start_off",
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        (last - first + 1).alias("n_chunks"),
    )


@query(
    "corpus_cap_per_source",
    """
    SELECT doc_id, source, n_chars, rk FROM (
        SELECT doc_id, source, n_chars,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rk
        FROM documents
    ) WHERE rk <= 10
    """,
)
def corpus_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-domination cap: keep at most 10 docs per source, preferring
    longer documents (n_chars desc, doc_id tiebreak). One row_number
    window partitioned by source — the partition key is the cap key, so
    no source's ranking ever crosses executors."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        d.select(
            "doc_id", "source", "n_chars",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 10)
    )


@query(
    "corpus_quality_gate",
    """
    WITH thr AS (
        SELECT round(quantile_cont(n_chars, 0.25), 6) AS p25 FROM documents
    )
    SELECT doc_id, source, n_chars, p25
    FROM documents, thr
    WHERE n_chars >= p25
    """,
)
def corpus_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile quality gate: drop the shortest quartile of the corpus.
    The threshold is ONE exact-percentile aggregate row, cross-joined
    back (broadcast — it is a single row) so the filter itself is a
    map-only pass. At 100 TB, swap `percentile` for `percentile_approx`
    (mergeable sketch, no full sort per group) — filter side unchanged."""
    d = table(spark, sf_dir, "documents")
    thr = d.agg(
        F.round(F.expr("percentile(n_chars, 0.25)"), 6).alias("p25")
    )
    return (
        d.crossJoin(F.broadcast(thr))
        .filter(F.col("n_chars") >= F.col("p25"))
        .select("doc_id", "source", "n_chars", "p25")
    )


#: RE2-safe PII patterns (no lookahead/backrefs — identical semantics in
#: Java regex and DuckDB's RE2).
EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+"
PHONE_RE = "555-[0-9]+"


@query(
    "pii_redact",
    f"""
    WITH raw AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com tel 555-0' || CAST(doc_id AS VARCHAR)
                 AS raw_text
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(raw_text, '{EMAIL_RE}', '[EMAIL]', 'g'),
                          '{PHONE_RE}', '[PHONE]', 'g') AS clean_text,
           CAST(len(regexp_extract_all(raw_text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw_text, '{PHONE_RE}')) AS BIGINT) AS n_phones
    FROM raw
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: mask emails and phone-shaped tokens, counting the
    redactions per document (the audit number a compliance pass reports).
    The corpus has no natural PII, so both engines append an identical
    synthetic contact line first — the regexes then genuinely fire on
    every row. Pure regexp codegen, map-only, no shuffle."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com tel 555-0"),
        F.col("doc_id").cast("string"),
    )
    cleaned = F.regexp_replace(
        F.regexp_replace(raw, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
    return d.select(
        "doc_id",
        cleaned.alias("clean_text"),
        F.size(F.regexp_extract_all(raw, F.lit(EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
    )


@query(
    "vec_quantize_int8",
    """
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ), s AS (
        SELECT vec_id, e,
               127.0 / greatest(list_max(list_transform(e, x -> abs(x))), 1e-30)
                 AS scale
        FROM v
    )
    SELECT vec_id,
           round(scale, 6) AS scale_r,
           CAST(list_min(list_transform(e, x -> CAST(floor(x * scale + 0.5) AS BIGINT))) AS BIGINT) AS q_min,
           CAST(list_max(list_transform(e, x -> CAST(floor(x * scale + 0.5) AS BIGINT))) AS BIGINT) AS q_max,
           round(sqrt(list_sum(list_transform(e,
                 x -> (x - CAST(floor(x * scale + 0.5) AS BIGINT) / scale)
                      * (x - CAST(floor(x * scale + 0.5) AS BIGINT) / scale)))), 6)
             AS recon_err
    FROM s
    """,
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization per embedding: scale =
    127/max|x|, q = round-half-up(x·scale) — plus the L2 reconstruction
    error, the number that tells you whether the 4× memory cut is safe
    for the ANN index. floor(x+0.5) rather than round() because engines
    disagree on round-half-to-even; all math in float64 lambdas on both
    sides. Map-only; the quantized vectors are what you shuffle into an
    IVF build, not the floats."""
    e = table(spark, sf_dir, "embeddings")
    ed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = e.select("vec_id", ed.alias("e"))
    scale = F.lit(127.0) / F.greatest(
        F.array_max(F.transform(F.col("e"), lambda x: F.abs(x))), F.lit(1e-30)
    )
    s = v.select("vec_id", "e", scale.alias("scale"))

    def q(x):
        return F.floor(x * F.col("scale") + F.lit(0.5)).cast("long")

    err_terms = F.transform(
        F.col("e"), lambda x: (x - q(x) / F.col("scale")) * (x - q(x) / F.col("scale"))
    )
    return s.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale_r"),
        F.array_min(F.transform(F.col("e"), q)).cast("long").alias("q_min"),
        F.array_max(F.transform(F.col("e"), q)).cast("long").alias("q_max"),
        F.round(F.sqrt(F.aggregate(err_terms, F.lit(0.0), lambda a, x: a + x)), 6).alias(
            "recon_err"
        ),
    )


@query(
    "dedup_incremental",
    """
    WITH existing AS (
        SELECT md5(text) AS h FROM documents WHERE doc_id % 5 <> 0
    ), batch AS (
        SELECT doc_id, text, source, md5(text) AS h
        FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id, source FROM (
        SELECT b.doc_id, b.source,
               row_number() OVER (PARTITION BY b.h ORDER BY b.doc_id) AS rn
        FROM batch b ANTI JOIN existing e ON b.h = e.h
    ) WHERE rn = 1
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the shape a DAILY pipeline actually
    runs (full-corpus re-dedup at 100 TB is a non-starter): drop incoming
    docs whose content hash already exists in the corpus (anti join on
    md5), then dedupe within the batch itself (first-doc_id-wins window).
    The corpus side is a one-column hash projection — at scale that's a
    bloom-filter/bucketed-hash-index read, not a full-text scan; here
    docs with doc_id % 5 == 0 play the incoming batch."""
    d = table(spark, sf_dir, "documents")
    existing = d.filter(F.col("doc_id") % 5 != 0).select(F.md5("text").alias("h"))
    batch = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    fresh = batch.join(existing, "h", "left_anti")
    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source")
    )


@query(
    "text_decontaminate",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 4),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                        || t[i+3] || ' ' || t[i+4])) AS gram
        FROM toks
    ), eval_grams AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
    ), train_grams AS (
        SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 97 <> 0
    ), hits AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
        FROM train_grams JOIN eval_grams USING (gram)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
           COALESCE(h.n_hit_grams, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 97 <> 0
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training docs that share any
    5-gram (word shingle) with the held-out eval slice (here: doc_id %
    97 == 0 plays the benchmark set). The canonical pre-training hygiene
    step (GPT-3 §C / PaLM style n-gram overlap). Shape: both sides
    explode to DISTINCT (doc, gram) pairs — dedup BEFORE the join so a
    gram repeated inside one doc adds no join fan-out — then an
    inner-join + group counts hits per train doc. The eval side is tiny
    by construction (benchmarks are KBs, corpora are TBs), so AQE
    broadcasts it; the train side's gram explosion never shuffles the
    full text, only (doc_id, gram-hash)-width rows. At 100 TB: hash the
    gram to a 64-bit key before the join (gram strings only needed for
    reporting) and the exchange payload drops ~10x; a bloom filter
    built from eval grams pre-filters the train side map-side."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = 5
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = d.select("doc_id", F.explode(grams).alias("gram"))
    eval_grams = exploded.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    train_grams = exploded.filter(F.col("doc_id") % 97 != 0).distinct()
    hits = (
        train_grams.join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )
    return (
        d.filter(F.col("doc_id") % 97 != 0)
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hit_grams"), F.lit(0)).alias("n_hit_grams"),
            (F.coalesce(F.col("n_hit_grams"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


@query(
    "text_vocab_encode",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(generate_series(1, len(ts))) AS pos,
               unnest(ts) AS term
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
    ), vocab AS (
        SELECT term,
               CAST(row_number() OVER (ORDER BY count(*) DESC, term)
                    AS BIGINT) AS id
        FROM toks GROUP BY term
    )
    SELECT doc_id,
           string_agg(id::VARCHAR, ',' ORDER BY pos) AS token_ids,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM toks JOIN vocab USING (term)
    GROUP BY doc_id
    """,
)
def text_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-to-ids: build a frequency-ranked vocabulary (id 1 = most
    frequent term, ties broken lexically — the BPE-rank convention) and
    re-encode every document as its id sequence. The join back is
    vocab-sized on one side — vocabularies are bounded (50k-1M entries
    ≈ MBs) no matter the corpus size, so AQE broadcasts it and the token
    stream never shuffles for the lookup; the only full shuffle is the
    final per-doc regroup. The vocab ranking window is a single
    partition by design — rank order is global — but it sorts VOCAB
    rows, not token occurrences (the count aggregate happened first).
    Positions ride along so the id sequence reassembles in document
    order without re-reading the text."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "term"),
    )
    from xlsx_to_database_spark.operators.global_order import (
        with_global_row_number,
    )

    # Global frequency rank over the AGGREGATED vocab (bounded MBs, never
    # the token stream) — still computed with the two-phase distributed
    # rank so a pathological vocabulary (URLs/numbers blowing it to 1B+
    # terms) degrades to slower, not to a single-task sort. DESC rank =
    # ASC rank on the negated count.
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        with_global_row_number(
            counts.withColumn("__neg", -F.col("cnt")),
            [F.col("__neg").asc(), F.col("term").asc()],
            "__neg",
            out="id",
        )
        .select("term", "id")
    )
    return (
        toks.join(vocab, "term")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos0", "id"))),
                    lambda x: x["id"].cast("string"),
                ),
            ).alias("token_ids"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


@query(
    "url_parse",
    """
    WITH urls AS (
        SELECT doc_id,
               'https://' || source || '.example.com/docs/' || doc_id
                 || '?page=' || (doc_id % 10) || '&lang=' || lang AS url
        FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]page=([^&#]*)', 1) AS page,
           regexp_extract(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1),
                          '([^.]+\\.[^.]+)$', 1) AS domain
    FROM urls
    """,
)
def url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition for web-corpus curation (host/domain level
    dedup caps, per-domain quality priors): synthesizes a deterministic
    URL per document, then extracts host, path, a query parameter, and
    the registered domain with Spark's built-in `parse_url` (a JVM
    expression — java.net.URI under the hood, no UDF). The oracle
    re-derives the same pieces with anchored regexes, pinning
    `parse_url`'s semantics to a spec DuckDB can check. Map-only — zero
    shuffles at any scale; at 100 TB this runs inside the scan's
    whole-stage-codegen pass."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?page="),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("&lang="),
        F.col("lang"),
    )
    host = F.parse_url(url, F.lit("HOST"))
    return d.select(
        "doc_id",
        host.alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("page")).alias("page"),
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1).alias("domain"),
    )


@query(
    "text_df_prune",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(generate_series(1, len(ts))) AS pos,
               unnest(ts) AS term
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), keep AS (
        SELECT term FROM toks CROSS JOIN n
        GROUP BY term, n_docs
        HAVING 2 * count(DISTINCT doc_id) <= n_docs
    )
    SELECT d.doc_id,
           COALESCE(p.pruned_text, '') AS pruned_text,
           COALESCE(p.n_kept, 0) AS n_kept
    FROM documents d LEFT JOIN (
        SELECT doc_id,
               string_agg(term, ' ' ORDER BY pos) AS pruned_text,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM toks JOIN keep USING (term)
        GROUP BY doc_id
    ) p USING (doc_id)
    """,
)
def text_df_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistic stopword removal: drop every token whose document
    frequency exceeds half the corpus (2*df <= n_docs keeps it — an
    integer comparison, engine-exact) and reassemble each document from
    its surviving tokens in original position order. This is df-driven
    boilerplate stripping — the data-derived generalization of a fixed
    stopword list. The keep-list is vocabulary-sized (bounded, MBs) so
    AQE broadcasts the pruning join; the df aggregate itself reuses the
    same exploded (doc, pos, term) stream the reassembly consumes — one
    explode, one df aggregate, one regroup shuffle. Docs losing every
    token surface with empty text rather than vanishing (left join)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "term")
    )
    n_docs = d.count()  # one scalar; corpus cardinality is metadata
    keep = (
        toks.groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(2 * F.col("df") <= n_docs)
        .select("term")
    )
    pruned = (
        toks.join(keep, "term")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "term"))),
                    lambda x: x["term"],
                ),
            ).alias("pruned_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    return d.select("doc_id").join(pruned, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("pruned_text"), F.lit("")).alias("pruned_text"),
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
    )


@query(
    "vec_normalize",
    """
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           array_to_string(list_transform(embedding,
                 x -> CAST(CAST(floor(CAST(x AS DOUBLE)
                      / sqrt(list_sum(list_transform(embedding,
                            y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
                      * 1000000 + 0.5) AS BIGINT) AS VARCHAR)), ',')
               AS unit_vec_q6
    FROM embeddings
    """,
)
def vec_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding column — the prep step before
    any cosine-based dedup/ANN (normalized vectors turn cosine into a
    plain dot product, halving the per-pair math downstream). Pure
    codegen array lambdas in float64, map-only, zero shuffle at any
    scale. Components are emitted quantized to 1e-6 integers
    (floor(x*1e6+0.5) — round-half-up on both engines, sidestepping
    round-half-to-even drift AND double->string format divergence; same
    trick as vec_quantize_int8)."""
    e = table(spark, sf_dir, "embeddings")
    comp = lambda x: F.floor(x.cast("double") / F.col("l2n") * 1000000 + 0.5).cast("long").cast("string")  # noqa: E731
    return (
        e.withColumn("l2n", F.expr(_norm_sql("embedding")))
        .select(
            "vec_id",
            F.round(F.col("l2n"), 6).alias("l2_norm"),
            F.concat_ws(",", F.transform(F.col("embedding"), comp)).alias(
                "unit_vec_q6"
            ),
        )
    )


#: Target mixing weights per source for corpus_mix_schedule (sums to 1).
MIX_WEIGHTS = {"src0": 0.5, "src1": 0.2, "src2": 0.2, "src3": 0.1}


@query(
    "corpus_mix_schedule",
    f"""
    WITH weights(source, w) AS (VALUES
        ('src0', 0.5), ('src1', 0.2), ('src2', 0.2), ('src3', 0.1)
    ), counts AS (
        SELECT source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens FROM counts
    )
    SELECT c.source, c.src_tokens,
           round(CAST(w AS DOUBLE), 2) AS target_weight,
           round(w * total_tokens / c.src_tokens, 6) AS sample_rate,
           round(w * total_tokens / c.src_tokens, 6) > 1.0 AS needs_upsampling
    FROM counts c JOIN weights USING (source) CROSS JOIN tot
    """,
)
def corpus_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing schedule (the Pile / DoReMi-style source weighting):
    given target mixture weights per source, derive each source's
    sampling rate = weight x total_tokens / source_tokens — rate > 1
    means the source must be up-sampled (multiple epochs) to hit its
    target share. One token-count aggregate over the corpus (map-side
    combined), a one-row total, and a broadcast-trivial join against
    the literal weight dim. The output IS the control table a sampling
    pass (`sample_hash` with per-source rates) consumes — rates are
    pure arithmetic on exact integer token counts, so both engines
    agree to the last bit before rounding."""
    d = table(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        list(MIX_WEIGHTS.items()), "source string, w double"
    )
    counts = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("src_tokens")
    )
    tot = counts.agg(F.sum("src_tokens").alias("total_tokens"))
    rate = F.col("w") * F.col("total_tokens") / F.col("src_tokens")
    return (
        counts.join(F.broadcast(weights), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "src_tokens",
            F.round(F.col("w"), 2).alias("target_weight"),
            F.round(rate, 6).alias("sample_rate"),
            (F.round(rate, 6) > 1.0).alias("needs_upsampling"),
        )
    )


@query(
    "text_normalize",
    """
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g')) AS norm_text,
           CAST(length(text) AS BIGINT) AS n_chars_raw,
           CAST(length(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text normalization — the first map pass of every training
    pipeline: lowercase, strip non-alphanumerics, collapse runs of
    whitespace, trim. Pure codegen `regexp_replace` (RE2-safe subset so
    DuckDB byte-matches) — map-only, zero shuffle, scales linearly; at
    100 TB this pass is I/O-bound by construction."""
    d = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


@query(
    "text_repetition",
    """
    WITH g AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1]) AS g2,
               list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 2),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1] || ' ' ||
                        string_split(text, ' ')[i + 2]) AS g3
        FROM documents
    )
    SELECT doc_id,
           round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                       / nullif(len(g2), 0), 6) AS dup2_frac,
           round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
                       / nullif(len(g3), 0), 6) AS dup3_frac
    FROM g
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition score (the Gopher/MassiveText quality
    rule): fraction of word 2-grams and 3-grams that are duplicates of
    an earlier occurrence in the same document. Heavily repeated
    boilerplate (nav bars, SEO spam) scores high and gets filtered.
    All array math — grams built with zip_with over shifted slices (the
    element_at-by-index form re-inlines the token array per access and
    goes quadratic, see operators/dedup.py) — map-only, no shuffle."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    w2 = F.greatest(F.size(toks) - 1, F.lit(0))
    g2 = F.zip_with(
        F.slice(toks, 1, w2),
        F.slice(toks, 2, w2),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    w3 = F.greatest(F.size(toks) - 2, F.lit(0))
    g3 = F.zip_with(
        F.zip_with(
            F.slice(toks, 1, w3),
            F.slice(toks, 2, w3),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        F.slice(toks, 3, w3),
        lambda p, c: F.concat(p, F.lit(" "), c),
    )

    def dup_frac(g):
        return F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(g)).cast("double")
            / F.nullif(F.size(g), F.lit(0)),
            6,
        )

    return d.select(
        "doc_id", dup_frac(g2).alias("dup2_frac"), dup_frac(g3).alias("dup3_frac")
    )


#: Gopher-rule stopwords: a doc must contain >= 2 of these to pass.
_GOPHER_STOPS = ("the", "a", "and", "to", "of", "table", "value", "row")


@query(
    "corpus_gopher_rules",
    f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), m AS (
        SELECT doc_id,
               CAST(len(ts) AS BIGINT) AS n_words,
               round(list_sum(list_transform(ts, w -> CAST(len(w) AS DOUBLE)))
                     / len(ts), 6) AS mean_word_len,
               CAST({' + '.join(
                   f"CASE WHEN list_contains(ts, '{w}') THEN 1 ELSE 0 END"
                   for w in _GOPHER_STOPS)} AS BIGINT) AS n_stopwords
        FROM t
    )
    SELECT doc_id, n_words, mean_word_len, n_stopwords,
           (n_words BETWEEN 50 AND 100000) AS ok_len,
           (mean_word_len BETWEEN 3 AND 10) AS ok_word_len,
           (n_stopwords >= 2) AS ok_stopwords,
           ((n_words BETWEEN 50 AND 100000)
            AND (mean_word_len BETWEEN 3 AND 10)
            AND n_stopwords >= 2) AS keep
    FROM m
    """,
)
def corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style composite quality gate: word-count
    bounds, mean word length bounds, minimum stopword hits — the cheap
    heuristics that remove machine-generated junk before any model-based
    scoring. Every rule is per-row array arithmetic (map-only, no
    shuffle, no UDF); at 100 TB this is the filter you run FIRST because
    it costs one scan and typically drops 20-40% of raw web text."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks).cast("long")
    mean_wl = F.round(
        F.aggregate(
            toks, F.lit(0.0), lambda acc, w: acc + F.length(w).cast("double")
        )
        / F.size(toks),
        6,
    )
    n_stops = sum(
        [F.when(F.array_contains(toks, w), 1).otherwise(0) for w in _GOPHER_STOPS],
        F.lit(0),
    ).cast("long")
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        n_stops.alias("n_stopwords"),
    )
    ok_len = F.col("n_words").between(50, 100000)
    ok_wl = F.col("mean_word_len").between(3, 10)
    ok_stop = F.col("n_stopwords") >= 2
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "n_stopwords",
        ok_len.alias("ok_len"),
        ok_wl.alias("ok_word_len"),
        ok_stop.alias("ok_stopwords"),
        (ok_len & ok_wl & ok_stop).alias("keep"),
    )


#: Words per pseudo-line for text_line_dedup (the corpus has no real
#: newlines, so lines are fixed-width word segments).
_LINE_W = 8


@query(
    "text_line_dedup",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), lines AS (
        SELECT doc_id, i AS pos,
               array_to_string(ts[(i * {_LINE_W} + 1):(i * {_LINE_W} + {_LINE_W})], ' ') AS line
        FROM toks,
             UNNEST(generate_series(0,
                 CAST(ceil(len(ts) / {_LINE_W}.0) AS BIGINT) - 1)) AS t(i)
    ), freq AS (
        SELECT line, count(DISTINCT doc_id) AS n_docs
        FROM lines GROUP BY line
    )
    SELECT l.doc_id,
           string_agg(l.line, ' ' ORDER BY l.pos) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_lines_kept
    FROM lines l JOIN freq f USING (line)
    WHERE f.n_docs = 1
    GROUP BY l.doc_id
    """,
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level boilerplate removal: segment every document
    into fixed-width pseudo-lines, drop any line whose exact text occurs
    in MORE THAN ONE document (nav bars, footers, license blurbs), and
    reassemble the survivors in original order. Shape at 100 TB: one
    explode, one hash aggregate on the line text (the dedup shuffle —
    partial aggregation means mostly-unique lines shuffle one row each),
    one join back (line-frequency table is corpus-bounded; AQE
    broadcasts when small), one per-doc regroup. No sort of the corpus,
    no window over it."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(toks) / F.lit(float(_LINE_W))).cast("int")
    lines = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * _LINE_W + 1, _LINE_W), " "
                ),
            )
        ).alias("pos", "line"),
    )
    freq = lines.groupBy("line").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    return (
        lines.join(freq, "line")
        .filter(F.col("n_docs") == 1)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_lines_kept"),
        )
    )


@query("vec_pca_project")  # rows-only: eigendecomposition is not SQL-expressible
def vec_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding column to its top-8 principal
    components — the dimensionality-reduction pass before cheap ANN or
    clustering. Distributed shape (the one every linear-model trainer
    uses): each PARTITION computes its local Gram matrix and mean-sum
    with numpy inside one mapInPandas pass (d×d per partition — map-side
    combine, so the shuffle moves #partitions × d² scalars, never
    vectors), the driver reduces the partials and eigendecomposes the
    d×d covariance (64×64 — microseconds, metadata-scale like the IVF
    centroids), and the projection matrix is inlined as literals so the
    actual projection is a second map-only pass. Eigenvector sign is
    pinned (largest-|component| positive) to make output deterministic.
    Rows-only: no SQL oracle can eigendecompose; invariants (variance
    ordering, orthogonality) are unit-tested instead."""
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")
    d = 64
    n_comp = 8

    def partial_gram(batches):
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            yield pd.DataFrame(
                {
                    "n": [float(m.shape[0])],
                    "s": [m.sum(axis=0).tolist()],
                    "g": [(m.T @ m).reshape(-1).tolist()],
                }
            )

    parts = emb.select("embedding").mapInPandas(
        partial_gram, schema="n double, s array<double>, g array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    s = np.sum([np.array(r["s"]) for r in parts], axis=0)
    g = np.sum([np.array(r["g"]).reshape(d, d) for r in parts], axis=0)
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:n_comp]
    w = vecs[:, order]  # d x n_comp
    # sign convention: largest-|component| of each eigenvector positive
    for j in range(w.shape[1]):
        i = int(np.abs(w[:, j]).argmax())
        if w[i, j] < 0:
            w[:, j] = -w[:, j]

    centered = (
        "transform(embedding, (x, i) -> CAST(x AS DOUBLE) - "
        f"element_at({_arr_sql(mu)}, i + 1))"
    )
    return emb.selectExpr(
        "vec_id",
        *[
            f"round({_dot_sql(centered, w[:, j])}, 5) AS pc{j + 1}"
            for j in range(n_comp)
        ],
    )
