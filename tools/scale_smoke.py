"""Scale-up smoke test: verify headline plans scale ~linearly.

Stages an 8×-inflated copy of sf0.1 under /tmp with DISJOINT keys per
copy (key offsets keep join selectivity constant — naive file
duplication would multiply join outputs 64×), then times representative
operators at 1× and 8× and reports the scaling ratio. A healthy
distributed plan lands near 8× (or below, where fixed overheads
amortize); a superlinear ratio flags a plan that would not survive
100 TB. Results are recorded in SCALE.md.

Usage: python tools/scale_smoke.py [ops ...]
       python tools/scale_smoke.py --big [zorder perplexity cross_corpus]

``--big`` runs the round-4 family at the 20M-row synthetic scale the
global-order sizing was measured at (SCALE.md round-4 section): data is
generated with spark.range (deterministic, no files), so the measured
cost is the operator pipeline itself, not parquet scan time.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DST = "/tmp/spark_scale_smoke/sf0.8c"  # c: content-disjoint documents + embeddings
COPIES = 8

#: table -> columns to offset per copy (disjoint key spaces).
KEYED = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "part": ["p_partkey"],
    "nation": [],   # bounded dims stay bounded at any scale
    "region": [],
}

OFFSET = 100_000_000  # far past any real key at sf0.1

DEFAULT_OPS = [
    "agg_basic",
    "join_inner_equi",
    "join_broadcast",
    "win_running_sum",
    "topk_per_group",
    "text_tfidf",
    "dedup_minhash",
    "tpch_q18",
    "funnel_steps",
    "join_range_bucketed",
    "seq_pack",
    "sim_batch_topk",
    # Round-4 family (round-4 verdict #6).
    "text_perplexity",
    "dedup_cross_corpus",
    "parquet_zorder_sink",
    # Round-5 join-shaped additions.
    "text_containment",
    "join_grid_radius",
    # Round-5 batch 3.
    "stat_survival_km",
    "stat_bootstrap_ci",
    "text_bpe_pairs",
    # Round-5 batches 4-7 (round5b_ops).
    "stat_spearman",
    "stat_kendall_tau",
    "event_pattern_match",
    "win_rolling_slope",
    "text_pmi",
    "graph_clustering_coeff",
    "etl_fifo_allocate",
    "ml_naive_bayes",
    "ml_logreg_newton",
    # Round-5 batches 8-15.
    "graph_assortativity",
    "url_canonicalize",
    "ml_decision_stump",
    "stat_jackknife_ratio_se",
    "agg_weighted_median",
    "dedup_winnowing",
    "dq_table_checksum",
    "sim_maxsim",
    "stat_theil_sen",
    # Round-12 verdict #5: the txn-table family — the two slowest
    # headline queries plus CDC — measured under inflation, not just
    # functionally tested. Each stages its own 8x base fixture via
    # stage.staged_copy, so the ratio covers commit + read-back
    # on an 8x inventory.
    "table_merge_upsert",
    "table_delete_vectors",
    "table_cdc_rows",
    # Round-13 additions: the new quantization/serving ops.
    "sim_sq_topk",
    "sim_ivfsq_topk",
    "sim_residual_serve_topk",
    "sim_sq_serve_topk",
    "sim_hamming_topk",
    "sim_binary_rerank_topk",
    "sim_ivf_trained_topk",
    "sim_pq_refine_topk",
]


def stage(spark, dst: str = DST, copies: int = COPIES,
          tables: list[str] | None = None) -> None:
    from pyspark.sql import functions as F

    os.makedirs(dst, exist_ok=True)
    for t, keys in KEYED.items():
        if tables is not None and t not in tables:
            continue
        out = os.path.join(dst, f"{t}.parquet")
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            continue
        src = spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
        if not keys:
            src.write.mode("overwrite").parquet(out)
            continue
        parts = []
        for i in range(copies):
            cp = src
            for k in keys:
                cp = cp.withColumn(k, F.col(k) + F.lit(i * OFFSET))
            if t == "documents":
                # Content-disjoint copies: tag every token with the copy
                # index. Verbatim text copies would give every doc 8
                # content-identical twins, growing the TRUE near-dup pair
                # set quadratically in the copy factor — a content-op
                # sibling of the join-selectivity trap the key offsets
                # prevent (measured: verbatim copies sent
                # dedup_cross_corpus to an 11.4x "superlinear" ratio that
                # was real pairs, not a plan defect).
                cp = cp.withColumn(
                    "text", F.regexp_replace(F.col("text"), r"(\S+)", f"c{i}_$1")
                )
            if t == "embeddings":
                # Content-disjoint copies for vector ops: shift dim 0 by
                # 10·copy so copies occupy far-apart regions — verbatim
                # vector copies would give every point 8 zero-distance
                # twins and inflate radius/near-dup pair sets 64x (the
                # vector sibling of the documents text trap above).
                cp = cp.withColumn(
                    "embedding",
                    F.concat(
                        F.array(
                            F.element_at("embedding", 1) + F.lit(float(i * 10))
                        ),
                        F.slice("embedding", 2, 10_000),
                    ),
                )
            parts.append(cp)
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        big.write.mode("overwrite").parquet(out)
        print(f"staged {t} x{copies} -> {dst}", file=sys.stderr)


def _synth_docs(spark, n_docs: int, n_tok: int = 10, vocab: int = 200_000):
    """Deterministic documents-like frame: doc_id + space-joined tokens.

    Token draw pmod(doc_key·31 + j·17, vocab) is content-keyed, so two
    rows with the same doc_key are exact near-dups — the hook the
    cross-corpus smoke uses to plant batch↔corpus duplicate pairs."""
    from pyspark.sql import functions as F

    toks = [
        F.concat(F.lit("t"), F.pmod(F.col("doc_key") * 31 + j * 17, F.lit(vocab)))
        for j in range(n_tok)
    ]
    return (
        spark.range(n_docs)
        .withColumn("doc_key", F.col("id"))
        .select(
            F.col("id").alias("doc_id"),
            "doc_key",
            F.array_join(F.array(*toks), " ").alias("text"),
        )
    )


def big_smoke(spark, which: list[str]) -> None:
    """20M-row synthetic measurements for the round-4 family."""
    from pyspark.sql import functions as F

    from xlsx_to_database_spark.operators import dedup as D
    from xlsx_to_database_spark.operators.global_order import _zvalue

    def timed(label, fn):
        fn()  # warm: codegen + planning
        t0 = time.perf_counter()
        out = fn()
        print(f"{label:40} {time.perf_counter() - t0:8.2f}s  {out}")

    if "zorder" in which:
        # 20M rows, two 8-bit-quantized dims, Morton sort + parquet write —
        # versus the 1-D range-clustered write (the cost delta IS the price
        # of 2-D locality).
        n = 20_000_000
        base = spark.range(n).select(
            F.col("id").alias("k"),
            F.pmod(F.col("id") * 2654435761, F.lit(1 << 20)).alias("custkey"),
            F.pmod(F.col("id") * 40503, F.lit(2400)).alias("day"),
        )

        def zorder_write():
            q1 = F.floor(F.col("custkey").cast("long") * 256 / F.lit(1 << 20)).cast("int")
            q2 = F.floor(F.col("day").cast("long") * 256 / F.lit(2400)).cast("int")
            (
                base.withColumn("__z", _zvalue(q1, q2, bits=8))
                .repartitionByRange(64, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
                .write.mode("overwrite")
                .parquet("/tmp/spark_scale_smoke/zorder20m")
            )
            return f"{n} rows written"

        def cluster1d_write():
            (
                base.repartitionByRange(64, "custkey")
                .sortWithinPartitions("custkey")
                .write.mode("overwrite")
                .parquet("/tmp/spark_scale_smoke/cluster1d20m")
            )
            return f"{n} rows written"

        timed("zorder_sink 20M (morton 2-D)", zorder_write)
        timed("clustered_sink 20M (1-D baseline)", cluster1d_write)

    if "perplexity" in which:
        # 2M docs x 10 tokens = 20M token rows through the full unigram-LM
        # pipeline (vocab agg -> broadcast prob join -> per-doc NLL).
        docs = _synth_docs(spark, 2_000_000)
        toks = docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )

        def perplexity():
            vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
            nn = vocab.agg(F.sum("c").alias("n"))
            scored = toks.join(vocab, "tok").crossJoin(F.broadcast(nn))
            return f"{scored.groupBy('doc_id').agg(F.count(F.lit(1))).count()} docs scored"

        timed("text_perplexity 20M tokens", perplexity)

    if "cross_corpus" in which:
        # Fixed 50k batch against growing corpora; every batch doc is an
        # exact dup of one corpus doc (same doc_key -> same token set).
        # Healthy shape: pairs stay batch-bound (50k) and time grows
        # ~linearly with corpus (the corpus-side scan/prefix passes), with
        # NO corpus-quadratic term.
        for corpus_n in (250_000, 1_000_000):
            corpus = _synth_docs(spark, corpus_n)
            batch = _synth_docs(spark, 50_000).withColumn(
                "doc_id", F.col("doc_id") + 10_000_000
            )
            timed(
                f"dedup_cross_corpus 50k x {corpus_n // 1000}k",
                lambda b=batch, c=corpus: f"{D.jaccard_join(b, c, threshold=0.9).count()} pairs",
            )


    if "txn" in which:
        # The table format's scale claim measured: a clustered-key MERGE
        # against a 20M-row / 64-file table must cost ~1/64th of the
        # key-range-spanning equivalent, because manifest min/max stats
        # prune the copy-on-write to intersecting files only.
        import shutil as _sh

        from xlsx_to_database_spark.operators.txn_table import TxnTable

        root = "/tmp/spark_scale_smoke/txn20m"
        _sh.rmtree(root, ignore_errors=True)
        n = 20_000_000
        t = TxnTable(spark, root, "k")
        base = spark.range(1, n + 1).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        t.create(base.repartitionByRange(64, "k"))

        def merge_narrow():
            src = spark.range(1, 100_001).select(
                F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
            )
            v, rw, car = t.merge(src, "k")
            return f"rewrote {rw}/{rw + car} files"

        def merge_wide():
            # same row count, keys spread over the full domain
            src = spark.range(1, 100_001).select(
                (F.col("id") * (n // 100_000)).alias("k"),
                F.lit(-2).cast("long").alias("v"),
            )
            v, rw, car = t.merge(src, "k")
            return f"rewrote {rw}/{rw + car} files"

        timed("txn merge 100k clustered keys @20M", merge_narrow)
        timed("txn merge 100k scattered keys @20M", merge_wide)

    if "txn_grown" in which:
        # Round-5 verdict #7: measure (don't assert) file-pruning's
        # benefit as the file inventory GROWS. Same 100k-key clustered
        # source MERGEd into a 20M-row/64-file table vs a 160M-row/
        # 512-file table: the touched-file count must stay ~constant
        # (the source's key range intersects the same few files) while
        # total files grow 8x — i.e. MERGE cost tracks touched bytes,
        # not table size. That invariant, not the absolute seconds, is
        # what survives the jump to a 100 TB / 1M-file inventory.
        import shutil as _sh

        from xlsx_to_database_spark.operators.txn_table import TxnTable

        for label, rows, files in (("1x", 20_000_000, 64),
                                   ("8x", 160_000_000, 512)):
            root = f"/tmp/spark_scale_smoke/txn_grown_{label}"
            _sh.rmtree(root, ignore_errors=True)
            t = TxnTable(spark, root, "k")
            base = spark.range(1, rows + 1).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            )
            t.create(base.repartitionByRange(files, "k"))

            def merge_clustered(t=t):
                src = spark.range(1, 100_001).select(
                    F.col("id").alias("k"),
                    F.lit(-1).cast("long").alias("v"),
                )
                v, rw, car = t.merge(src, "k")
                return f"rewrote {rw}/{rw + car} files"

            timed(f"txn merge 100k clustered keys, {label} inventory "
                  f"({rows // 1_000_000}M rows / {files} files)",
                  merge_clustered)

    if "txn_zorder2d" in which:
        # Round-7: multi-column footer stats + Z-ORDER = MERGE pruning
        # on a SECONDARY dimension. 20M rows, x = id and y = an
        # uncorrelated permutation-ish hash of id. Phase 1 (x-range
        # layout): a narrow-y MERGE must rewrite ~all files (y spans
        # every file — pruning is honest about bad layout). Phase 2
        # (OPTIMIZE ZORDER on the Morton (x,y) code): BOTH a narrow-x
        # and a narrow-y MERGE prune to a small file subset, because
        # every file now covers a rectangle of the key plane and the
        # manifest carries footer min/max for y too (col_stats).
        import shutil as _sh

        from xlsx_to_database_spark.operators.txn_table import TxnTable
        from xlsx_to_database_spark.operators.global_order import _zvalue

        n = 20_000_000

        def base():
            return spark.range(1, n + 1).select(
                F.col("id").alias("x"),
                ((F.col("id") * 2654435761) % n).alias("y"),
            )

        def quant(col):
            return F.floor(col * 256 / F.lit(n + 1)).cast("int")

        def fresh(tag, z_order):
            root = f"/tmp/spark_scale_smoke/txn_z2d_{tag}"
            _sh.rmtree(root, ignore_errors=True)
            t = TxnTable(spark, root, "x")
            t.create(base().repartitionByRange(64, "x"))
            if z_order:
                t.compact(
                    target_files=64,
                    order_by=_zvalue(quant(F.col("x")), quant(F.col("y")),
                                     bits=8),
                )
            return t

        # Each measurement runs against FRESH state: a prior merge's
        # rewritten files carry that source's payload values, widening
        # stats and contaminating the next probe's prune counts.
        def src_narrow(key, other):
            # narrow range on the merge key; payload stays IN-DOMAIN so
            # staged-file stats remain representative.
            return spark.range(1, 100_001).select(
                F.col("id").alias(key),
                ((F.col("id") * 7919) % n).alias(other),
            ).select("x", "y")

        def merge_on(t, key, other):
            v, rw, car = t.merge(src_narrow(key, other), key)
            return f"rewrote {rw}/{rw + car} files"

        tx = fresh("x_layout", z_order=False)
        timed("x-layout: merge 100k narrow-y keys @20M",
              lambda: merge_on(tx, "y", "x"))
        t0 = time.perf_counter()
        tz1 = fresh("z_layout_a", z_order=True)
        print(f"  (build x-clustered + OPTIMIZE ZORDER: "
              f"{time.perf_counter() - t0:.1f}s)")
        timed("z-layout: merge 100k narrow-x keys @20M",
              lambda: merge_on(tz1, "x", "y"))
        tz2 = fresh("z_layout_b", z_order=True)
        timed("z-layout: merge 100k narrow-y keys @20M",
              lambda: merge_on(tz2, "y", "x"))

    if "dv_lifecycle" in which:
        # Round-7 verdict #7: the DV read tax over a MIXED workload —
        # one measured sequence append → DV delete (uniform) → DV
        # delete (skewed) → DV update → reorg_purge → compact at 20M
        # rows / 64 files, timing BOTH each op and the full-scan
        # aggregate after it. The claim under test: the tax is bounded
        # (scans stay O(scan), never O(versions)), reorg_purge removes
        # it from exactly the hot files, and compact returns the scan
        # to baseline — monotone decay, no step regresses it.
        import shutil as _sh

        from xlsx_to_database_spark.operators.txn_table import TxnTable

        root = "/tmp/spark_scale_smoke/dv_lifecycle"
        _sh.rmtree(root, ignore_errors=True)
        n = 20_000_000
        tt = TxnTable(spark, root, "k")
        t0 = time.perf_counter()
        tt.create(
            spark.range(n).select(
                F.col("id").alias("k"),
                (F.col("id") % 1000).cast("double").alias("v"),
            ).repartitionByRange(64, "k")
        )
        print(f"{'create 20M rows / 64 files':40} "
              f"{time.perf_counter() - t0:8.2f}s")

        def scan(label):
            q = lambda: tt.read().agg(  # noqa: E731
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("v"), 2).alias("s"),
            ).collect()[0]
            q()  # warm
            t0 = time.perf_counter()
            r = q()
            print(f"{'  full scan after ' + label:40} "
                  f"{time.perf_counter() - t0:8.2f}s  rows={r['n']}")

        def step(label, fn):
            t0 = time.perf_counter()
            out = fn()
            print(f"{label:40} {time.perf_counter() - t0:8.2f}s  {out}")
            scan(label)

        scan("create (baseline)")
        step("append 100k rows", lambda: tt.append(
            spark.range(n, n + 100_000).select(
                F.col("id").alias("k"), F.lit(1.0).alias("v")
            ).coalesce(1)
        ))
        step("DV delete uniform ~0.3% (k%331==7)",
             lambda: tt.delete_where_dv(F.col("k") % 331 == 7))
        step("DV delete skewed ~7.7% of first 2M",
             lambda: tt.delete_where_dv(
                 (F.col("k") < 2_000_000) & (F.col("k") % 13 == 5)
             ))
        step("DV update uniform ~0.02% (k%4099==1)",
             lambda: tt.update_where_dv(
                 F.col("k") % 4099 == 1, {"v": F.col("v") + 1.0}
             ))
        step("reorg_purge(ratio=0.02) — hot files only",
             lambda: tt.reorg_purge(max_deleted_ratio=0.02))
        step("compact(64) — tax to zero",
             lambda: tt.compact(target_files=64))

    if "round5" in which:
        # 20M-row orders staged ONCE to /tmp parquet, then the REGISTERED
        # round-5 stat ops run end-to-end (scan included — these ops'
        # claim is that everything after the first aggregate is bounded
        # by the calendar/replicate count, so total time must track the
        # scan+first-agg, ~linear in rows).
        d5 = "/tmp/spark_scale_smoke/r5_20m"
        out = os.path.join(d5, "orders.parquet")
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            (
                spark.range(20_000_000)
                .select(
                    F.col("id").alias("o_orderkey"),
                    F.pmod(F.col("id") * F.lit(2654435761), F.lit(2_500_000)
                           ).alias("o_custkey"),
                    F.date_add(
                        F.lit("1992-01-01").cast("date"),
                        F.pmod(F.col("id") * F.lit(40503), F.lit(2400)
                               ).cast("int"),
                    ).alias("o_orderdate"),
                    (F.pmod(F.col("id") * F.lit(97), F.lit(100000))
                     .cast("double") / 100.0).alias("o_totalprice"),
                )
                .write.mode("overwrite")
                .parquet(out)
            )
        from xlsx_to_database_spark.queries.stats import (
            stat_bootstrap_ci,
            stat_changepoint,
            stat_survival_km,
        )

        timed(
            "stat_bootstrap_ci 20M (one-pass agg)",
            lambda: f"{stat_bootstrap_ci(spark, d5).count()} row",
        )
        timed(
            "stat_survival_km 20M",
            lambda: f"{stat_survival_km(spark, d5).count()} durations",
        )
        timed(
            "stat_changepoint 20M",
            lambda: f"{stat_changepoint(spark, d5).count()} row",
        )


#: op id -> tables it reads (so the 32x staging inflates only those).
X32_TABLES = {
    "win_global_rank": ["orders", "nation", "region"],
    "text_tfidf": ["documents", "nation", "region"],
    # Round-12 verdict #4: the sweep's one heavy op — the EXACT
    # token-Jaccard join whose scalable siblings (minhash, winnowing,
    # cross_corpus) are the 100 TB path. The 32x point tests that its
    # prefix-filtered candidate volume stays ~linear in rows (content
    # tagging keeps the true pair set per-copy).
    "dedup_near": ["documents"],
    # Round-13: text_containment is the round's max 8x ratio (4.41 —
    # within the linear bound, but worth the same flattening proof
    # dedup_near got); its 5-gram postings read documents only.
    "text_containment": ["documents"],
    # table_cdc_rows is the txn trio's max 8x ratio (1.8); its CDC
    # scenario builds a TxnTable from orders.
    "table_cdc_rows": ["orders", "nation", "region"],
}

DST32 = "/tmp/spark_scale_smoke/sf3.2c"


def x32(spark, ops: list[str], out_json: str | None) -> None:
    """1x / 8x / 32x timings for ``ops`` — see main()'s --x32 note."""
    import json

    from xlsx_to_database_spark.registry import all_queries

    unknown = [op for op in ops if op not in X32_TABLES]
    if unknown:
        sys.exit(
            f"--x32: no table mapping for {unknown}; supported ops: "
            f"{sorted(X32_TABLES)} (add the op's tables to X32_TABLES)"
        )
    need = sorted({t for op in ops for t in X32_TABLES[op]})
    stage(spark)  # the 8x copy (all tables, shared with the default run)
    # 32x copy of only the needed tables (key offsets stay disjoint:
    # 32 * OFFSET = 3.2e9 fits comfortably in the long key domain)
    stage(spark, dst=DST32, copies=32, tables=need)
    qs = all_queries()
    results = {}
    print(f"{'op':20} {'1x(s)':>8} {'8x(s)':>8} {'32x(s)':>8} "
          f"{'r8':>6} {'r32':>7} {'r32/8':>6}")
    for name in ops:
        fn = qs[name]
        ts = {}
        for label, d in (("1x", SRC), ("8x", DST), ("32x", DST32)):
            fn(spark, d).count()  # warm
            t0 = time.perf_counter()
            fn(spark, d).count()
            ts[label] = time.perf_counter() - t0
        r8 = ts["8x"] / max(ts["1x"], 1e-9)
        r32 = ts["32x"] / max(ts["1x"], 1e-9)
        results[name] = {
            "t_1x_sec": round(ts["1x"], 3),
            "t_8x_sec": round(ts["8x"], 3),
            "t_32x_sec": round(ts["32x"], 3),
            "ratio_8x": round(r8, 2),
            "ratio_32x": round(r32, 2),
            "ratio_32_over_8": round(ts["32x"] / max(ts["8x"], 1e-9), 2),
        }
        print(f"{name:20} {ts['1x']:8.2f} {ts['8x']:8.2f} "
              f"{ts['32x']:8.2f} {r8:6.1f} {r32:7.1f} "
              f"{results[name]['ratio_32_over_8']:6.1f}")
    if out_json:
        with open(out_json, "w") as f:
            json.dump(
                {
                    "note": (
                        "1x/8x/32x disjoint-key inflation of sf0.1 "
                        "(round-11 verdict #7): linear-in-data means "
                        "ratio_32_over_8 <= ~4; a compounding ratio "
                        "flags a superlinear term"
                    ),
                    "ops": results,
                },
                f, indent=1, sort_keys=True,
            )
        print(f"wrote {out_json}")


def main() -> None:
    from xlsx_to_database_spark.registry import all_queries
    from xlsx_to_database_spark.session import get_spark

    spark = get_spark("scale_smoke")
    if len(sys.argv) > 1 and sys.argv[1] == "--big":
        big_smoke(spark, sys.argv[2:] or ["zorder", "perplexity", "cross_corpus", "round5"])
        return
    out_json = None
    argv = sys.argv[1:]
    if argv and argv[0] == "--json":
        out_json, argv = argv[1], argv[2:]
    if argv and argv[0] == "--x32":
        # Second sweep point (round-11 verdict #7): run the named ops at
        # 1x / 8x / 32x. The claim under test is that the 8x ratio
        # FLATTENS toward linear-in-data between 8x and 32x (ratio_32_8
        # <= ~4x + noise) rather than compounding — the difference
        # between a constant-factor overhead and a genuinely
        # superlinear term that 100 TB would amplify.
        x32(spark, argv[1:] or ["win_global_rank", "text_tfidf"],
            out_json)
        return
    stage(spark)
    qs = all_queries()
    ops = argv or DEFAULT_OPS
    results = {}
    print(f"{'op':24} {'1x(s)':>8} {'8x(s)':>8} {'ratio':>6}")
    for name in ops:
        fn = qs[name]
        fn(spark, SRC).count()  # warm (codegen/planning)
        t0 = time.perf_counter()
        fn(spark, SRC).count()
        t1 = time.perf_counter() - t0
        fn(spark, DST).count()  # warm
        t0 = time.perf_counter()
        fn(spark, DST).count()
        t8 = time.perf_counter() - t0
        ratio = t8 / max(t1, 1e-9)
        results[name] = {
            "t_1x_sec": round(t1, 3),
            "t_8x_sec": round(t8, 3),
            "ratio": round(ratio, 2),
        }
        print(f"{name:24} {t1:8.2f} {t8:8.2f} {ratio:6.1f}")
    if out_json:
        import json

        with open(out_json, "w") as f:
            json.dump(
                {
                    "copies": COPIES,
                    "src": SRC,
                    "note": (
                        "8x disjoint-key inflation of sf0.1; healthy "
                        "distributed plans land at <= ~8x (fixed "
                        "overheads amortize); superlinear ratios flag "
                        "plans that would not survive 100 TB"
                    ),
                    "ops": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {out_json}")


if __name__ == "__main__":
    main()
