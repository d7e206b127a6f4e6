"""Round-4 additions: LM-perplexity quality filtering, cross-corpus
near-dup joins, and cosine radius search — three training-pipeline
shapes the §2 inventory did not yet cover.

Registered LAST in the registry import order on purpose: the round-4
driver window is a curated set (backlog + reopened + the whole streaming
family); new never-attested ops must queue behind it, not displace it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators import dedup as D
from xlsx_to_database_spark.operators.similarity import _cos_sim_sql
from xlsx_to_database_spark.registry import query


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


def _zvalue(a_sql: str, b_sql: str, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of the low ``bits`` bits of two
    non-negative int SQL expressions — a pure codegen expression chain
    (2·bits shift terms), no UDF, emitted as one SQL string so it
    parses in one py4j call."""
    terms = []
    for i in range(bits):
        terms.append(
            f"shiftleft(CAST(shiftright({a_sql}, {i}) & 1 AS BIGINT), {2 * i})"
        )
        terms.append(
            f"shiftleft(CAST(shiftright({b_sql}, {i}) & 1 AS BIGINT), {2 * i + 1})"
        )
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))


def _orders_morton_key(lo_c: int, hi_c: int, lo_d: int, hi_d: int) -> Column:
    """Morton key of an orders row: custkey and orderdate (as days
    since 1992-01-01), each quantized to 8 bits against its (lo, hi)
    bounds, so both dims contribute comparable high bits. The key
    decides layout only, never row values."""

    def quant(col_sql: str, lo: int, hi: int) -> str:
        # Widen to long BEFORE the ×256: for int32 key domains past ~8.4M
        # (SF ≳ 56) the product overflows 32-bit — silently wrapping
        # (non-ANSI) into a near-random layout, or erroring under ANSI.
        return (
            f"CAST(floor(CAST(({col_sql}) - {lo} AS BIGINT) * 256 "
            f"/ {hi - lo + 1}) AS INT)"
        )

    return _zvalue(
        quant("o_custkey", lo_c, hi_c),
        quant("datediff(o_orderdate, '1992-01-01')", lo_d, hi_d),
        bits=8,
    )


@query(
    "parquet_zorder_sink",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    WHERE o_custkey % 4 = 1
      AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
    """,
)
def parquet_zorder_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered write — the multi-dimensional sibling of
    `parquet_clustered_sink`: 1-D range clustering gives perfect
    min/max stats on ONE column and useless ones on every other, but
    scans that filter on (customer AND date) need locality in BOTH.
    Interleaving the two keys' bits into a Morton code and
    range-partitioning + sorting on it bounds every file to a small
    rectangle of (custkey, date) space, so footer-only pruning works
    for predicates on either or both dimensions — what table formats
    ship as OPTIMIZE ZORDER, expressed in three plain Spark primitives
    (codegen interleave, repartitionByRange, sortWithinPartitions).
    Per-file two-dimensional span narrowing is pyarrow-asserted in
    tests; this query proves content integrity: a two-predicate
    aggregate on the READ-BACK files must hash-match the source-side
    oracle. The predicate uses a custkey MODULO and an in-range date
    year so its selectivity is ~1/4 x ~1/6 at EVERY SF — a fixed
    absolute range would silently select 0 rows on this testdata's
    1995–2001 date domain and make the content check vacuous."""
    import os

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    # Equalize bit budgets: raw columns have mismatched magnitudes
    # (custkey ~ 1e6+, date-days ~ 2.4k), and Morton codes only give 2-D
    # locality when both dims contribute comparable high bits — otherwise
    # the wider dim dominates the sort and the narrower one degenerates
    # to 1-D clustering. Quantize each dim to 8 bits against its actual
    # domain. r13: the (min, max) pair per dim comes from the parquet
    # FOOTER statistics (pyarrow, O(row-groups) driver metadata — the
    # same stats the clustered sinks' pruning tests rely on), replacing
    # a full-scan Spark aggregate job per call; datediff is monotone in
    # the date, so day bounds are exactly the bounds of the date stats.
    # The z-value affects LAYOUT only — correctness never depends on
    # it, and a footer without stats falls back to the aggregate.
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))

    def _footer_bounds():
        import datetime

        import pyarrow.parquet as pq

        md = pq.ParquetFile(
            os.path.join(sf_dir, "orders.parquet")
        ).metadata
        mins: dict = {}
        maxs: dict = {}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                if c.path_in_schema in ("o_custkey", "o_orderdate"):
                    s = c.statistics
                    if s is None or not s.has_min_max:
                        raise ValueError("footer stats missing")
                    k = c.path_in_schema
                    mins[k] = s.min if k not in mins else min(mins[k], s.min)
                    maxs[k] = s.max if k not in maxs else max(maxs[k], s.max)
        epoch = datetime.date(1992, 1, 1)

        def _as_date(m):
            # pyarrow stats are datetime.datetime for timestamp-typed
            # columns but datetime.date for date32-typed ones (r13
            # ADVICE): handle both instead of assuming .date() exists.
            return m.date() if isinstance(m, datetime.datetime) else m

        return (
            mins["o_custkey"],
            maxs["o_custkey"],
            (_as_date(mins["o_orderdate"]) - epoch).days,
            (_as_date(maxs["o_orderdate"]) - epoch).days,
        )

    try:
        lo_c, hi_c, lo_d, hi_d = _footer_bounds()
    except (ValueError, OSError, KeyError, AttributeError, TypeError):
        # Narrowed from a blanket except (r13 ADVICE): stats-missing /
        # unreadable-footer / unexpected-stat-type fall back to the
        # full-scan aggregate; anything else should surface.
        lo_c, hi_c, lo_d, hi_d = o.agg(
            F.min("o_custkey"), F.max("o_custkey"), F.min(day), F.max(day)
        ).collect()[0]

    z = _orders_morton_key(lo_c, hi_c, lo_d, hi_d)
    tag = os.path.basename(os.path.normpath(sf_dir))
    dst = f"/tmp/spark_stage/{tag}_orders_zorder"
    (
        o.withColumn("__z", z)
        .repartitionByRange(16, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(dst)
    )
    back = spark.read.parquet(dst).filter(
        (F.pmod(F.col("o_custkey"), F.lit(4)) == 1)
        & (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total"),
    )


@query(
    "stat_psi_drift",
    """
    WITH b AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_a,
             CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS is_b,
             CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), c AS (
      SELECT bucket, sum(is_a) AS ca, sum(is_b) AS cb FROM b GROUP BY bucket
    ), t AS (
      SELECT sum(ca) AS na, sum(cb) AS nb FROM c
    )
    SELECT round(CAST(sum(CAST((ca / na - cb / nb) * ln((ca / na) / (cb / nb))
                              AS DECIMAL(28,18))) AS DOUBLE), 6) AS psi,
           CAST(count(*) AS BIGINT) AS n_buckets
    FROM c, t
    WHERE ca > 0 AND cb > 0
    """,
)
def stat_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the URGENT and LOW price
    distributions — KS's sibling and the other standard production drift
    gate (PSI < 0.1 stable, > 0.25 shifted): fixed-width price buckets,
    PSI = Σ (p−q)·ln(p/q) over jointly-populated buckets (the
    documented convention here; the epsilon-smoothing variant is a
    parameter choice, not a different plan). One conditional aggregate
    over the fact table → bucket-count-sized frame; everything after is
    metadata-scale. Exactness: bucket ids are integer floors, p and q
    are ratios of exact counts, ln is libm-bit-identical, and each term
    quantizes to DECIMAL(28,18) before the sum (agg_entropy's recipe).
    Unlike KS (which needs the distributed global-order operator for its
    CDFs), PSI never sorts anything — the cheap first-line monitor."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    c = (
        o.select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("is_a"),
            F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0).alias("is_b"),
            F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bucket"),
        )
        .groupBy("bucket")
        .agg(F.sum("is_a").alias("ca"), F.sum("is_b").alias("cb"))
    )
    t = c.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    p = F.col("ca") / F.col("na")
    q = F.col("cb") / F.col("nb")
    return (
        c.crossJoin(F.broadcast(t))
        .filter((F.col("ca") > 0) & (F.col("cb") > 0))
        .agg(
            F.round(
                F.sum(((p - q) * F.log(p / q)).cast("decimal(28,18)")).cast("double"),
                6,
            ).alias("psi"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
    )


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
