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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators import dedup as D
from xlsx_to_database_spark.operators.global_order import (
    with_global_row_number,
    with_global_running_sums,
)
from xlsx_to_database_spark.operators.similarity import (
    _arr_sql,
    _dot_sql,
    _norm_sql,
)
from xlsx_to_database_spark.operators.text import STOPWORDS
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


@query(
    "text_perplexity",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), vocab AS (
      SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ), tot AS (
      SELECT sum(c) AS n FROM vocab
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           round(-CAST(sum(CAST(ln(c / n) AS DECIMAL(28,18))) AS DOUBLE)
                 / count(*), 6) AS avg_nll
    FROM toks JOIN vocab USING (tok), tot
    GROUP BY doc_id
    """,
)
def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (the CCNet/ccnet-style perplexity
    filter, degree 1): train token probabilities on the corpus itself,
    score every document by its average negative log-likelihood — low
    avg_nll ≈ ordinary language, high ≈ gibberish/boilerplate tails the
    curation pipeline drops. Real deployments swap the self-trained
    unigram table for a fixed 5-gram KenLM; the Spark shape is
    identical: a bounded LM table joined onto the token stream.

    Scale: one token-count aggregate (vocab-sized result — bounded MBs
    regardless of corpus size, so AQE broadcasts the probability join
    and the token stream never shuffles for the lookup), then one
    per-doc re-aggregate — the same two-shuffle budget as text_tfidf.
    Exactness: p = c/N is a ratio of exact integers, ln is bit-identical
    across both engines' libm (verified for agg_entropy), and each
    per-token term quantizes to DECIMAL(28,18) before the per-doc sum so
    summation order cannot matter."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = vocab.agg(F.sum("c").alias("n"))
    scored = toks.join(vocab, "tok").crossJoin(F.broadcast(n))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.round(
            -F.sum(F.log(F.col("c") / F.col("n")).cast("decimal(28,18)")).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("avg_nll"),
    )


_CHUNK_W = 32  #: tokens per chunk


_CHUNK_S = 16  #: stride (W/2 -> 50% overlap, the usual pretraining choice)


@query(
    "text_chunk_split",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), idx AS (
      SELECT unnest(range(0, 16)) AS i
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           array_to_string(t[i*{_CHUNK_S}+1 : i*{_CHUNK_S}+{_CHUNK_W}], ' ') AS chunk,
           CAST(len(t[i*{_CHUNK_S}+1 : i*{_CHUNK_S}+{_CHUNK_W}]) AS INT) AS n_tok
    FROM toks JOIN idx ON i <= (len(t) - 1) // {_CHUNK_S}
    """,
)
def text_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window token chunking with 50% overlap — the step that turns
    variable-length documents into trainer/retriever-sized pieces
    (`seq_pack` is the packing half; this is the splitting half). Chunk
    ``chunk_id`` starts at token ``chunk_id·S``, spans up to W tokens;
    every token is covered, interior tokens twice (stride S = W/2).

    Scale shape: map-only — one codegen `transform` over the token
    array builds all windows, `posexplode` flattens; no shuffle, no UDF,
    no join. Output rows ≈ input tokens × (W/S)/W · ... ≈ 2·tokens/W;
    the explode's row growth is the op's deliberate output, not a plan
    accident. The DuckDB oracle drives the same windows off an integer
    series join (docs here are ≤ 99 tokens → i < 16 bounds the series;
    the Spark side needs no such bound since `sequence` is data-sized).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size("t") - 1) / _CHUNK_S).cast("int"),
                ),
                lambda i: F.slice("t", i * _CHUNK_S + 1, _CHUNK_W),
            )
        ).alias("chunk_id", "win"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int"),
        F.array_join("win", " ").alias("chunk"),
        F.size("win").alias("n_tok"),
    )


@query(
    "text_containment",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, len(t) - 1)]) AS s
      FROM toks WHERE len(t) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE / len(a.s), 6)
             AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE round(len(list_intersect(a.s, b.s))::DOUBLE / len(a.s), 6) >= 0.9
    """,
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-superset screening: pairs where ≥ 90% of doc_a's
    word-3-gram shingles appear in doc_b — quote-inclusion / boilerplate
    wrapping / templated-superset cases that Jaccard structurally misses
    (a short doc inside a long one has J ≈ 0, C ≈ 1). Candidates via the
    asymmetric prefix filter (A blocks on its rarest shingles, B on all;
    zero false negatives — proof at operators/dedup.py::
    containment_pairs), verified exactly. The oracle is the defining
    cross product."""
    return D.containment_pairs(
        table(spark, sf_dir, "documents"), threshold=0.9, shingle=3
    )


@query(
    "corpus_token_budget",
    """
    WITH scored AS (
      SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_tok,
             sum(n_tok) OVER (ORDER BY n_chars DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM scored
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum_tok AS BIGINT) AS cum_tok
    FROM ranked WHERE cum_tok - n_tok < 10000
    """,
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection — the data-mixing primitive every
    pretraining run executes: rank the corpus by a quality proxy
    (n_chars here; any score column in production) and keep documents
    greedily until the token budget is spent. A document is admitted
    iff the budget is not already exhausted BEFORE it (cum − own < B),
    so exactly one document straddles the boundary — the greedy rule
    that makes budgets reproducible. The global running token sum is
    the bucketed exact operator (operators/global_order.py): quantile
    bucketing + per-bucket windows + broadcast offsets, never a
    single-partition sort of the corpus."""
    d = table(spark, sf_dir, "documents")
    # The bucketed operator's contract is DRIVING KEY ASCENDING (bucket
    # offsets accumulate in that direction), so the quality-descending
    # order rides a negated driving column — identical total order to
    # (n_chars DESC, doc_id ASC), valid at any bucket count.
    scored = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        (-F.col("n_chars")).alias("__negc"),
    )
    ranked = with_global_running_sums(
        scored,
        [F.col("__negc").asc(), F.col("doc_id").asc()],
        "__negc",
        {"cum_tok": "n_tok"},
    )
    return ranked.filter(F.col("cum_tok") - F.col("n_tok") < 10_000).select(
        "doc_id",
        F.col("n_tok").cast("long"),
        F.col("cum_tok").cast("long"),
    )


@query(
    "text_bpe_pairs",
    """
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS cnt
    FROM (
      SELECT substring(w, CAST(unnest(range(1, length(w))) AS INT), 2)
               AS pair
      FROM toks WHERE length(w) >= 2
    ) p
    GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-symbol pair frequencies — the inner statistic of BPE
    tokenizer training: every merge step picks the most frequent
    adjacent pair, and this op is that argmax (top 20) over the corpus
    at the character stage. Two codegen explodes (tokens, then a
    transform over in-token offsets — no Python, no UDF) feed ONE hash
    aggregate; the pair domain is tiny (alphabet²), so partial
    aggregation collapses the explosion map-side and the shuffle
    carries only per-task pair counts. Iterating the actual merge loop
    would re-run this with a growing symbol table; one step is the
    honest distributed kernel (the loop is driver-side orchestration).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
    )


@query(
    "text_stem",
    r"""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ), st AS (
      SELECT CASE WHEN length(s3) > 5 AND s3 LIKE '%ing'
                  THEN regexp_replace(s3, 'ing$', '')
                  WHEN length(s3) > 4 AND s3 LIKE '%ed'
                  THEN regexp_replace(s3, 'ed$', '')
                  ELSE s3 END AS stem
      FROM (
        SELECT regexp_replace(
                 regexp_replace(
                   regexp_replace(w, 'ies$', 'y'),
                   'sses$', 'ss'),
                 '([^su])s$', '\1') AS s3
        FROM toks WHERE w <> ''
      )
    )
    SELECT stem, CAST(count(*) AS BIGINT) AS cnt
    FROM st GROUP BY stem ORDER BY cnt DESC, stem LIMIT 20
    """,
)
def text_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based suffix stemming (Porter step-1 lite: ies→y, sses→ss,
    plural -s, gated -ing/-ed) with top-stem counts — the
    vocabulary-collapse step classical search/TF-IDF pipelines run
    before counting. All codegen regexp_replace chains (each engine
    uses its own backreference syntax, same semantics); one explode,
    one hash aggregate with map-side collapse. The LIKE-gates keep
    short tokens intact ('sing' and 'red' survive), matching the
    length guards real stemmers carry."""
    d = table(spark, sf_dir, "documents")
    w = F.col("w")  # already lowercased by the split below
    s3 = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(w, r"ies$", "y"), r"sses$", "ss"
        ),
        r"([^su])s$", r"$1",
    )
    toks = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .select(s3.alias("s3"))
    )
    stem = toks.select(
        F.when(
            (F.length("s3") > 5) & F.col("s3").endswith("ing"),
            F.regexp_replace("s3", r"ing$", ""),
        )
        .when(
            (F.length("s3") > 4) & F.col("s3").endswith("ed"),
            F.regexp_replace("s3", r"ed$", ""),
        )
        .otherwise(F.col("s3"))
        .alias("stem")
    )
    return (
        stem.groupBy("stem")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "stem")
        .limit(20)
    )


@query(
    "text_markov_bigrams",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), bg AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM (
        SELECT t, CAST(unnest(range(1, len(t))) AS INT) AS i FROM toks
      ) WHERE len(t) >= 2
    ), cnt AS (
      SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
    )
    SELECT w1, w2, CAST(c AS BIGINT) AS cnt,
           round(CAST(c AS DOUBLE)
                 / sum(c) OVER (PARTITION BY w1), 4) AS p_w2_given_w1
    FROM cnt ORDER BY c DESC, w1, w2 LIMIT 20
    """,
)
def text_markov_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram transition model — the order-1 Markov LM over the
    corpus (next-token prediction's simplest ancestor, and the
    colocation statistic behind phrase mining): adjacent token pairs
    within each document, with P(w2|w1) from a per-prefix window over
    the aggregated counts (runs on the bigram-vocabulary aggregate,
    never the raw pair stream). Pair generation is one codegen
    `transform` over token indices + `posexplode` — no shuffle until
    the count aggregate, which collapses map-side on the
    vocabulary-bounded key."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.split(F.lower("text"), " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bg = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.struct(
                    F.element_at(F.col("t"), i + 1).alias("w1"),
                    F.element_at(F.col("t"), i + 2).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))

    tot = F.sum("c").over(Window.partitionBy("w1"))
    return (
        cnt.select(
            "w1", "w2",
            F.col("c").cast("long").alias("cnt"),
            F.round(F.col("c").cast("double") / tot, 4).alias(
                "p_w2_given_w1"
            ),
        )
        .orderBy(F.col("cnt").desc(), "w1", "w2")
        .limit(20)
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
    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def ratio_batches(batches):
        import zlib  # worker-side: imported where the UDF body runs

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


_KWIC_TERM = "join"  #: concordance keyword


_KWIC_W = 3          #: context tokens per side


@query(
    "text_kwic",
    f"""
    SELECT doc_id, CAST(pos AS INT) AS pos,
           coalesce(array_to_string(
             t[greatest(1, pos - {_KWIC_W}):pos - 1], ' '), '') AS left_ctx,
           coalesce(array_to_string(
             t[pos + 1:pos + {_KWIC_W}], ' '), '') AS right_ctx
    FROM (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), unnest(range(1, len(t) + 1)) AS u(pos)
    WHERE t[pos] = '{_KWIC_TERM}'
    """,
)
def text_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context (KWIC) concordance: every occurrence of the
    term with ±{_KWIC_W} tokens of context — the corpus-inspection view
    linguists and data-quality reviewers read ("show me how this term
    is actually used") and the window extractor behind contrastive
    example mining.

    Plan: map-only — tokenize once, `posexplode` the positions, filter
    to the term, and slice the SAME token array for both context sides
    (the array rides the row; no join back to the document). Slices clip at
    both array ends; DuckDB renders an empty slice as NULL where Spark
    says '', so the oracle coalesces to '' to pin one semantics. At 100 TB
    this is one scan with a generator — the shuffle-free shape text
    inspection must have."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    e = d.select(
        "doc_id", "t",
        (F.posexplode("t").alias("p0", "tok"))
    ).filter(F.col("tok") == _KWIC_TERM)
    pos = F.col("p0") + 1  # 1-based
    left_start = F.greatest(F.lit(1), pos - _KWIC_W)
    return e.select(
        "doc_id",
        pos.cast("int").alias("pos"),
        F.array_join(
            F.slice(F.col("t"), left_start, pos - left_start), " "
        ).alias("left_ctx"),
        F.array_join(F.slice(F.col("t"), pos + 1, _KWIC_W), " ")
        .alias("right_ctx"),
    )


@query(
    "text_chat_template",
    """
    SELECT doc_id,
           concat('<|system|>summarize briefly<|end|>',
                  '<|user|>', text, '<|end|>',
                  '<|assistant|>') AS prompt,
           CAST(len(string_split(text, ' ')) + 8 AS BIGINT) AS n_tokens,
           CAST(length(text) + 64 AS BIGINT) AS n_chars
    FROM documents
    WHERE lang = 'en'
    """,
)
def text_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template rendering for SFT data prep: wrap each document
    into a system/user/assistant prompt with special-token markers and
    account the token/char budget the wrapper adds (8 marker tokens, 64
    wrapper chars here). Every instruction-tuning pipeline ends in this
    formatting pass, and budget accounting at render time is what keeps
    a packed batch from silently overflowing the context window.

    Plan: map-only string concat + a pushed-down language filter — the
    scan's ReadSchema carries only the used columns and the filter
    reaches parquet. Nothing shuffles; at 100 TB this is bandwidth, not
    compute."""
    d = table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return d.select(
        "doc_id",
        F.concat(
            F.lit("<|system|>summarize briefly<|end|>"),
            F.lit("<|user|>"), F.col("text"), F.lit("<|end|>"),
            F.lit("<|assistant|>"),
        ).alias("prompt"),
        (F.size(F.split("text", " ")) + 8).cast("long").alias("n_tokens"),
        (F.length("text") + 64).cast("long").alias("n_chars"),
    )


_N_SHARDS = 8


@query(
    "corpus_shard_shuffle",
    f"""
    WITH keyed AS (
      SELECT doc_id, md5(concat('epoch1:', CAST(doc_id AS VARCHAR)))
               AS shuffle_key,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), sharded AS (
      SELECT doc_id, shuffle_key,
             CAST(row_number() OVER (ORDER BY shuffle_key, doc_id)
                  % {_N_SHARDS} AS BIGINT) AS shard,
             n_tok
      FROM keyed
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(shuffle_key) AS first_key
    FROM sharded GROUP BY shard
    """,
)
def corpus_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle + sharding: order the corpus by a
    seeded hash (epoch in the seed ⇒ a different, reproducible
    permutation per epoch), deal documents round-robin into {_N_SHARDS}
    shards, report per-shard doc/token balance. This is how a trainer
    gets an unbiased global shuffle of a 100 TB corpus WITHOUT a
    driver-side permutation: hash-order is a sort the cluster does
    anyway, and round-robin dealing makes shard sizes provably equal
    (±1 doc) — the balance the data-loader needs.

    The global hash-order row_number uses one total-order sort; at fact
    scale the bucketed global-order machinery (operators/global_order)
    is the documented upgrade — kept as a plain window here because the
    DOCUMENT table (not the token stream) is being permuted."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string")))
        .alias("shuffle_key"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    w = Window.orderBy("shuffle_key", "doc_id")
    sharded = d.select(
        "shuffle_key", "n_tok",
        (F.row_number().over(w) % _N_SHARDS).cast("long").alias("shard"),
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.min("shuffle_key").alias("first_key"),
    )


@query(
    "text_fim_split",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    )
    SELECT doc_id,
           array_to_string(toks[1:n // 3], ' ') AS prefix,
           array_to_string(toks[n // 3 + 1:(2 * n) // 3], ' ') AS middle,
           array_to_string(toks[(2 * n) // 3 + 1:n], ' ') AS suffix,
           CAST(n // 3 AS BIGINT) AS cut1,
           CAST((2 * n) // 3 AS BIGINT) AS cut2
    FROM t WHERE n >= 3
    """,
)
def text_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) splitting: each document cut into
    prefix/middle/suffix at deterministic third-boundaries — the data
    transform behind FIM pretraining (the trainer re-orders to
    prefix-suffix-middle so the model learns infilling). Deterministic
    cut points make the dataset reproducible across runs; production
    pipelines randomize cuts per epoch by hashing (doc_id, epoch) into
    the cut offsets — same shape, seeded like `corpus_shard_shuffle`.

    Plan: map-only — tokenize once, three slices of the same array, no
    shuffle. Docs shorter than 3 tokens are skipped (no middle
    exists)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    ).withColumn("n", F.size("toks")).filter(F.col("n") >= 3)
    c1 = (F.col("n") / 3).cast("long")
    c2 = (2 * F.col("n") / 3).cast("long")
    return d.select(
        "doc_id",
        F.array_join(F.slice("toks", F.lit(1), c1), " ").alias("prefix"),
        F.array_join(
            F.slice("toks", c1 + 1, c2 - c1), " "
        ).alias("middle"),
        F.array_join(
            F.slice("toks", c2 + 1, F.col("n") - c2), " "
        ).alias("suffix"),
        c1.alias("cut1"),
        c2.alias("cut2"),
    )


@query(
    "text_freq_spectrum",
    """
    WITH tf AS (
      SELECT t AS tok, CAST(count(*) AS BIGINT) AS f
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
      GROUP BY t
    )
    SELECT f AS frequency,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(f * count(*) AS BIGINT) AS n_tokens
    FROM tf GROUP BY f
    """,
)
def text_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies (Zipf) spectrum: how many vocabulary
    types occur exactly f times — the corpus-linguistics fingerprint
    behind Good-Turing smoothing (which reads exactly this table),
    hapax-ratio quality checks (frequency=1 row), and vocabulary-growth
    estimation. `text_topk_terms` shows the head; this shows the whole
    shape of the distribution.

    Shape: explode → token aggregate (vocabulary scale) → spectrum
    aggregate (|distinct frequencies| rows — tiny). Both shuffles
    partial-aggregate; the token aggregate is the same first pass
    `text_tfidf` runs, so at 100 TB this is one extra metadata-size
    reduction over an aggregate you already compute."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    return tf.groupBy(F.col("f").alias("frequency")).agg(
        F.count(F.lit(1)).alias("n_types"),
        (F.col("frequency") * F.count(F.lit(1))).cast("long")
        .alias("n_tokens"),
    )


@query(
    "pipeline_pretrain_corpus",
    """
    WITH raw AS (
      SELECT doc_id, lower(trim(text)) AS t, source FROM documents
    ), normed AS (
      SELECT doc_id, t, len(string_split(t, ' ')) AS n_tok FROM raw
    ), quality AS (
      SELECT * FROM normed WHERE n_tok BETWEEN 10 AND 2000
    ), deduped AS (
      SELECT * FROM quality q
      WHERE doc_id = (SELECT min(doc_id) FROM quality q2
                      WHERE md5(q2.t) = md5(q.t))
    ), decontam AS (
      SELECT * FROM deduped
      WHERE t NOT LIKE '%needle in a haystack%'
    )
    SELECT stage, n_docs, n_tokens FROM (
      SELECT 0 AS ord, 'raw' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM normed
      UNION ALL
      SELECT 1, 'quality', CAST(count(*) AS BIGINT),
             CAST(sum(n_tok) AS BIGINT) FROM quality
      UNION ALL
      SELECT 2, 'dedup_exact', CAST(count(*) AS BIGINT),
             CAST(sum(n_tok) AS BIGINT) FROM deduped
      UNION ALL
      SELECT 3, 'decontaminate', CAST(count(*) AS BIGINT),
             CAST(sum(n_tok) AS BIGINT) FROM decontam
    )
    """,
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining-corpus funnel END TO END as one dataflow —
    normalize → length/quality gate → exact dedup (min-doc_id keep rule
    on the normalized-text hash) → decontamination — reporting the
    doc/token survivor count after every stage: the loss accounting
    every data-curation report leads with, produced by the SAME engine
    run that builds the corpus (not a separate audit job that can
    drift).

    Each stage is an attested op's core (text_normalize, length gates
    from corpus_gopher_rules, dedup_exact, text_decontaminate),
    composed as PER-ROW STAGE FLAGS feeding one aggregate — at 100 TB
    the funnel costs one scan plus the dedup window, not one pass per
    stage (the naive 4-branch union re-executes the lineage per
    branch; flags make the sharing physical, not just logical). The
    4-row output unstacks from the single aggregate row."""
    d = table(spark, sf_dir, "documents")
    normed = d.select(
        "doc_id", F.lower(F.trim("text")).alias("t")
    ).withColumn("n_tok", F.size(F.split("t", " ")))
    # Stage membership as per-row FLAGS, so the whole funnel is ONE
    # aggregate over one scan (a 4-branch union would re-execute the
    # lineage once per stage): quality is a predicate, the dedup winner
    # comes from one hash-partitioned window, decontamination is a
    # containment test.
    w = Window.partitionBy(F.md5("t"))
    flagged = normed.select(
        "n_tok",
        F.col("n_tok").between(10, 2000).alias("q"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
        (~F.col("t").contains("needle in a haystack")).alias("clean"),
    ).select(
        "n_tok", "q",
        (F.col("q") & F.col("keep")).alias("dd"),
        (F.col("q") & F.col("keep") & F.col("clean")).alias("dc"),
    )
    one = flagged.agg(
        F.count(F.lit(1)).alias("docs_raw"),
        F.sum("n_tok").cast("long").alias("tok_raw"),
        F.count_if("q").alias("docs_q"),
        F.sum(F.when(F.col("q"), F.col("n_tok"))).cast("long")
        .alias("tok_q"),
        F.count_if("dd").alias("docs_dd"),
        F.sum(F.when(F.col("dd"), F.col("n_tok"))).cast("long")
        .alias("tok_dd"),
        F.count_if("dc").alias("docs_dc"),
        F.sum(F.when(F.col("dc"), F.col("n_tok"))).cast("long")
        .alias("tok_dc"),
    )
    return one.selectExpr(
        """stack(4,
             'raw', docs_raw, tok_raw,
             'quality', docs_q, tok_q,
             'dedup_exact', docs_dd, tok_dd,
             'decontaminate', docs_dc, tok_dc
           ) AS (stage, n_docs, n_tokens)"""
    )


@query(
    "text_js_divergence",
    """
    WITH toks AS (
      SELECT lang = 'en' AS is_en, t AS tok
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
    ), counts AS (
      SELECT tok,
             CAST(count(*) FILTER (WHERE is_en) AS BIGINT) AS a,
             CAST(count(*) FILTER (WHERE NOT is_en) AS BIGINT) AS b
      FROM toks GROUP BY tok
    ), tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb
      FROM counts
    ), terms AS (
      SELECT
        CASE WHEN a > 0 THEN CAST(round(
          (CAST(a AS DOUBLE) / ta) * ln(
            (CAST(a AS DOUBLE) / ta)
            / ((CAST(a AS DOUBLE) / ta + CAST(b AS DOUBLE) / tb) / 2)
          ) / (2 * ln(2)), 10) AS DECIMAL(20,10))
        ELSE CAST(0 AS DECIMAL(20,10)) END AS pa,
        CASE WHEN b > 0 THEN CAST(round(
          (CAST(b AS DOUBLE) / tb) * ln(
            (CAST(b AS DOUBLE) / tb)
            / ((CAST(a AS DOUBLE) / ta + CAST(b AS DOUBLE) / tb) / 2)
          ) / (2 * ln(2)), 10) AS DECIMAL(20,10))
        ELSE CAST(0 AS DECIMAL(20,10)) END AS pb
      FROM counts CROSS JOIN tot
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM counts) AS vocab,
           (SELECT ta FROM tot) AS n_tokens_en,
           (SELECT tb FROM tot) AS n_tokens_other,
           round(CAST(sum(pa) + sum(pb) AS DOUBLE), 8) AS js_divergence
    FROM terms
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (base 2, so ∈ [0,1]) between the
    English and non-English unigram distributions — the corpus-drift
    measure curation pipelines run between snapshots, sources, or train
    vs eval slices; unlike KL it is symmetric and finite on
    non-overlapping vocabulary (exactly where corpus comparisons live).

    Exactness: each vocabulary term's JS contribution is one identical
    float expression over exact counts, quantized to DECIMAL(20,10)
    before the vocabulary-scale sum (order-independent — the
    text_perplexity device). Shape: one token aggregate with
    per-slice conditional counts, one 1-row total broadcast, one
    metadata reduction."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("lang") == "en").alias("is_en"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(
        F.count_if("is_en").alias("a"),
        F.count_if(~F.col("is_en")).alias("b"),
    )
    tot = counts.agg(
        F.sum("a").cast("long").alias("ta"),
        F.sum("b").cast("long").alias("tb"),
    )
    j = counts.crossJoin(F.broadcast(tot))
    pa_ = F.col("a").cast("double") / F.col("ta")
    pb_ = F.col("b").cast("double") / F.col("tb")
    mid = (pa_ + pb_) / 2
    ln2x2 = 2 * F.log(F.lit(2.0))
    terms = j.select(
        F.when(
            F.col("a") > 0,
            F.round(pa_ * F.log(pa_ / mid) / ln2x2, 10)
            .cast("decimal(20,10)"),
        ).otherwise(F.lit(0).cast("decimal(20,10)")).alias("pa"),
        F.when(
            F.col("b") > 0,
            F.round(pb_ * F.log(pb_ / mid) / ln2x2, 10)
            .cast("decimal(20,10)"),
        ).otherwise(F.lit(0).cast("decimal(20,10)")).alias("pb"),
    )
    vocab = counts.count()
    s = terms.agg(
        F.round((F.sum("pa") + F.sum("pb")).cast("double"), 8)
        .alias("js_divergence")
    )
    return (
        tot.crossJoin(F.broadcast(s))
        .select(
            F.lit(vocab).cast("long").alias("vocab"),
            F.col("ta").alias("n_tokens_en"),
            F.col("tb").alias("n_tokens_other"),
            "js_divergence",
        )
    )


_BURST_MIN_DOCS = 5  #: tokens must appear in at least this many docs


@query(
    "text_burstiness",
    f"""
    WITH per_doc AS (
      SELECT doc_id, t AS tok, CAST(count(*) AS BIGINT) AS c
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
      GROUP BY doc_id, t
    ), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    stats AS (
      SELECT tok,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c) AS BIGINT) AS cf,
             CAST(sum(c * c) AS BIGINT) AS cf2
      FROM per_doc GROUP BY tok
    )
    SELECT tok, df, cf,
           round(
             ((CAST(cf2 AS DOUBLE)
               - CAST(cf AS DOUBLE) * CAST(cf AS DOUBLE) / n_docs)
              / (n_docs - 1))
             / (CAST(cf AS DOUBLE) / n_docs), 6) AS fano
    FROM stats CROSS JOIN nd
    WHERE df >= {_BURST_MIN_DOCS}
    """,
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Fano factor — variance-to-mean of per-document
    counts, zeros included): function words hover near Poisson (≈ 1);
    topical words BURST (≫ 1 — absent from most docs, repeated where
    they appear). The content-word detector behind tf-idf's intuition,
    stated as a measurable statistic, and a standard corpus-QC check
    (boilerplate contamination shows up as impossible burstiness).

    Exactness: including the zero-count documents analytically — Σc and
    Σc² over ALL docs equal the sums over docs that contain the token,
    so the variance needs only (cf, cf2, n_docs), all exact integers;
    the Fano ratio is one shared float expression. Shape: two
    partial-aggregating shuffles (doc-grain then token-grain), one
    1-row doc-count broadcast."""
    d = table(spark, sf_dir, "documents")
    n_docs = d.count()
    per_doc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = per_doc.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").cast("long").alias("cf"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("cf2"),
    )
    var = (
        F.col("cf2").cast("double")
        - F.col("cf").cast("double") * F.col("cf").cast("double") / n_docs
    ) / (n_docs - 1)
    mean = F.col("cf").cast("double") / n_docs
    return stats.filter(F.col("df") >= _BURST_MIN_DOCS).select(
        "tok", "df", "cf", F.round(var / mean, 6).alias("fano")
    )


@query(
    "text_tokenizer_fertility",
    r"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '\S+', 0))) AS BIGINT)
             AS n_words,
           CAST(sum(len(regexp_extract_all(text,
                 ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+', 0)))
             AS BIGINT) AS n_subwords,
           round(CAST(sum(len(regexp_extract_all(text,
                 ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+', 0))) AS DOUBLE)
                 / sum(len(regexp_extract_all(text, '\S+', 0))), 6)
             AS fertility
    FROM documents GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — subword tokens per whitespace
    word under the BPE-style pre-tokenization `text_token_count` uses.
    Fertility is THE tokenizer-equity metric: a language at fertility 3
    pays 3× the context budget and 3× the inference cost of a language
    at 1; data-mixture and tokenizer-retraining decisions read exactly
    this table.

    Both tokenizations are RE2-safe regexes (byte-identical across
    engines); counts are exact integers; one map-only pass + a
    languages-sized aggregate."""
    d = table(spark, sf_dir, "documents")
    words = F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
    subwords = F.size(
        F.regexp_extract_all(
            "text", F.lit(r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"), 0
        )
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(words).cast("long").alias("n_words"),
        F.sum(subwords).cast("long").alias("n_subwords"),
        F.round(
            F.sum(subwords).cast("double") / F.sum(words), 6
        ).alias("fertility"),
    )


@query(
    "text_code_detect",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[{};()=<>\[\]]', 0))
                AS BIGINT) AS n_symbols,
           CAST(length(text) AS BIGINT) AS n_chars,
           round(CAST(len(regexp_extract_all(text, '[{};()=<>\[\]]', 0))
                      AS DOUBLE) / length(text), 6) AS symbol_ratio,
           CAST(len(regexp_extract_all(text, '[{};()=<>\[\]]', 0))
                AS DOUBLE) / length(text) > 0.05 AS looks_like_code
    FROM documents
    """,
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection by structural-symbol density — braces,
    semicolons, brackets, operators per character. Code-LLM corpus prep
    routes documents by exactly this class of heuristic (code goes to
    the FIM/dedup-by-AST path, prose to the quality-gate path); on this
    all-prose corpus the honest output is looks_like_code = false
    everywhere, which the unit test pins along with the ratio math.
    Map-only RE2-safe regexp counting — one scan at any corpus size."""
    d = table(spark, sf_dir, "documents")
    syms = F.size(
        F.regexp_extract_all("text", F.lit(r"[{};()=<>\[\]]"), 0)
    )
    ratio = syms.cast("double") / F.length("text")
    return d.select(
        "doc_id",
        syms.cast("long").alias("n_symbols"),
        F.length("text").cast("long").alias("n_chars"),
        F.round(ratio, 6).alias("symbol_ratio"),
        (ratio > 0.05).alias("looks_like_code"),
    )


@query(
    "text_autocomplete_index",
    """
    WITH tf AS (
      SELECT t AS tok, CAST(count(*) AS BIGINT) AS f
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
      WHERE length(t) >= 2
      GROUP BY t
    ), ranked AS (
      SELECT substr(tok, 1, 2) AS prefix, tok, f,
             row_number() OVER (PARTITION BY substr(tok, 1, 2)
                                ORDER BY f DESC, tok) AS rn
      FROM tf
    )
    SELECT prefix, tok AS top_completion, f AS frequency
    FROM ranked WHERE rn = 1
    """,
)
def text_autocomplete_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete index: the most frequent completion for every
    2-character prefix — the table a type-ahead service loads (full
    engines keep top-k per prefix; top-1 pins the shape). Built on the
    same token aggregate as `text_tfidf`/`text_freq_spectrum`; the
    rank window runs over the VOCABULARY (not the corpus), and
    WindowGroupLimit keeps per-prefix state at one row. Frequency-desc
    with token tie-break makes the argmax total."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w = Window.partitionBy(F.substring("tok", 1, 2)).orderBy(
        F.col("f").desc(), F.col("tok")
    )
    return (
        tf.withColumn("prefix", F.substring("tok", 1, 2))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "prefix", F.col("tok").alias("top_completion"),
            F.col("f").alias("frequency"),
        )
    )
