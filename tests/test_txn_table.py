"""Protocol tests for the minimal ACID table format
(operators/txn_table.py): atomic versioning, snapshot stability,
file-level copy-on-write pruning — the properties that make MERGE
O(touched files) instead of O(table) at 100 TB."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from xlsx_to_database_spark.operators.txn_table import (
    ConcurrentWriteError,
    TxnTable,
)


def _mk(spark, tmp_path, n=1000, parts=4):
    t = TxnTable(spark, str(tmp_path / "tbl"), "k")
    df = spark.range(1, n + 1).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.create(df.repartitionByRange(parts, "k"))
    return t


def test_create_append_read_roundtrip(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100)
    assert t.read().count() == 100
    t.append(
        spark.range(101, 121).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    assert t.latest_version() == 1
    assert t.read().count() == 120
    assert {r.k for r in t.read().filter(F.col("k") > 118).collect()} == {119, 120}


def test_merge_prunes_by_file_stats(spark, tmp_path):
    # 4 range-clustered files over k=1..1000; source confined to k<=120
    # must rewrite ONLY the file(s) whose stats range intersects — the
    # other files carry into the new manifest by reference (same path).
    t = _mk(spark, tmp_path)
    v0_paths = {e["path"] for e in t.manifest()["files"]}
    src = spark.range(1, 121).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    v, rewritten, carried = t.merge(src, "k")
    assert v == 1
    assert rewritten < 4 and carried >= 1, (rewritten, carried)
    carried_paths = {e["path"] for e in t.manifest()["files"]} & v0_paths
    assert len(carried_paths) == carried  # by reference, not rewritten
    got = t.read()
    assert got.count() == 1000  # pure update, no inserts
    assert got.filter(F.col("v") == -1).count() == 120
    assert got.filter((F.col("k") > 120) & (F.col("v") != 2 * F.col("k"))).count() == 0


def test_merge_beyond_max_is_pure_append(spark, tmp_path):
    t = _mk(spark, tmp_path)
    src = spark.range(5001, 5011).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    )
    _, rewritten, carried = t.merge(src, "k")
    assert rewritten == 0 and carried == 4
    assert t.read().count() == 1010


def test_delete_rewrites_only_matching_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v, rewritten, carried = t.delete_where(F.col("k") <= 10)
    assert rewritten == 1 and carried == 3, (rewritten, carried)
    assert t.read().count() == 990
    assert t.read().agg(F.min("k")).collect()[0][0] == 11


def test_delete_keeps_null_predicate_rows(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "tbl"), "k")
    t.create(
        spark.createDataFrame(
            [(1, 5), (2, None), (3, 50)], "k long, v long"
        )
    )
    t.delete_where(F.col("v") > 10)
    assert {r.k for r in t.read().collect()} == {1, 2}


def test_time_travel_snapshots_are_stable(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100)
    before = sorted(r.k for r in t.read(0).collect())
    t.append(
        spark.range(101, 201).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    t.delete_where(F.col("k") % 2 == 0)
    # v0 read resolves v0's manifest: unchanged by later commits.
    assert sorted(r.k for r in t.read(0).collect()) == before
    assert t.read(1).count() == 200
    assert t.read(2).count() == 100
    assert t.versions() == [0, 1, 2]


def test_concurrent_commit_raises(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10)
    # A racing writer publishes v1 first; our commit of v1 must fail
    # loudly, never shadow it.
    racing = TxnTable(spark, t.path, "k")
    racing._commit(1, "append", racing.manifest()["files"])
    with pytest.raises(ConcurrentWriteError):
        t._commit(1, "append", t.manifest()["files"])
    with pytest.raises(ConcurrentWriteError):
        t.create(spark.range(1).select(F.col("id").alias("k"), F.col("id").alias("v")))


def test_merge_on_secondary_column_prunes_via_col_stats(spark, tmp_path):
    """Round-7 multi-column stats: footers record min/max for EVERY
    numeric column, so a MERGE keyed off a non-clustering column still
    prunes when that column correlates with layout (here v = 2k is
    co-clustered with k). An unknown key still raises."""
    t = _mk(spark, tmp_path)  # 4 range files over k=1..1000, v = 2k
    src = spark.range(1, 61).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    v, rewritten, carried = t.merge(src, "v")
    assert rewritten < 4 and carried >= 1, (rewritten, carried)
    assert t.read().count() == 1000
    with pytest.raises(ValueError):
        t.merge(t.read(), "no_such_col")


def test_compact_small_rewrites_only_small_tail(spark, tmp_path):
    """Incremental OPTIMIZE: only files under the row threshold are
    rewritten; big files carry by reference; content preserved; a
    no-op (one small file) commits nothing."""
    t = _mk(spark, tmp_path, n=1000, parts=2)  # 2 files of 500 rows
    for i in range(3):
        t.append(
            spark.createDataFrame(
                [(2000 + 10 * i + j, 0) for j in range(5)],
                "k long, v long",
            ).coalesce(1)
        )
    before = sorted((r.k, r.v) for r in t.read().collect())
    big_paths = {
        e["path"] for e in t.manifest()["files"] if e["rows"] >= 100
    }
    v, compacted, carried = t.compact_small(max_rows=100)
    assert (v, compacted, carried) == (4, 3, 2)
    m = t.manifest()["files"]
    assert len(m) == 3  # 2 big carried + 1 compacted
    assert big_paths <= {e["path"] for e in m}  # by reference
    assert sorted((r.k, r.v) for r in t.read().collect()) == before
    # idempotent: nothing small left (compacted file has 15 rows < 100
    # but it is now the ONLY small file -> no-op, no commit)
    v2, c2, _ = t.compact_small(max_rows=100)
    assert (v2, c2) == (4, 0)


def test_compact_preserves_content_and_history(spark, tmp_path):
    t = _mk(spark, tmp_path, n=200, parts=8)
    t.append(
        spark.range(201, 211).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    before = sorted((r.k, r.v) for r in t.read().collect())
    v, n_before = t.compact(target_files=2)
    assert v == 2 and n_before >= 9
    assert len(t.manifest()["files"]) == 2
    assert sorted((r.k, r.v) for r in t.read().collect()) == before
    # pre-compaction snapshot still resolves its original file set
    assert t.read(1).count() == 210


def test_read_changes_returns_exactly_the_appends(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100)
    t.append(
        spark.range(101, 151).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    t.append(
        spark.range(151, 161).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    ks = sorted(r.k for r in t.read_changes(0, 2).collect())
    assert ks == list(range(101, 161))
    assert t.read_changes(1, 2).count() == 10
    assert t.read_changes(0, 0).count() == 0


def test_schema_evolution_nulls_old_files(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "tbl"), "k")
    t.create(spark.createDataFrame([(1, 10)], "k long, v long"))
    t.append(spark.createDataFrame([(2, 20, "x")], "k long, v long, w string"))
    got = {r.k: r.w for r in t.read().collect()}
    assert got == {1: None, 2: "x"}


def test_append_once_is_idempotent(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10)
    df = spark.range(11, 16).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    assert t.append_once(df, "batch-7") == 1
    assert t.append_once(df, "batch-7") is None  # replay: no-op
    assert t.read().count() == 15
    assert t.versions() == [0, 1]


def test_vacuum_deletes_only_unreferenced_files(spark, tmp_path):
    import glob
    import os

    t = _mk(spark, tmp_path, n=100, parts=4)
    t.merge(
        spark.range(1, 30).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ),
        "k",
    )
    t.compact(target_files=2)
    n_parquet = len(
        glob.glob(os.path.join(t.path, "data", "**", "*.parquet"),
                  recursive=True)
    )
    deleted, kept = t.vacuum(retain_versions=1)
    assert kept == 2 and deleted == n_parquet - 2
    # the retained snapshot is intact; history manifests survive
    assert t.read().count() == 100
    assert t.versions() == [0, 1, 2]


def test_random_op_sequences_match_model(spark, tmp_path):
    """Model-based check: a random sequence of append/merge/delete
    commits must leave the table equal to a plain dict replaying the
    same semantics, with v0 time travel intact — catches interaction
    bugs (e.g. a merge against a post-delete manifest, a delete probing
    carried files) that single-op tests never compose. Deterministic
    seeded sequences; each runs against a fresh table."""
    import random

    from pyspark.sql import functions as F  # noqa: F811

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        root = str(tmp_path / f"seq{seed}")
        t = TxnTable(spark, root, "k")
        model = {k: 2 * k for k in range(1, 21)}
        t.create(
            spark.createDataFrame(
                [(k, v) for k, v in model.items()], "k long, v long"
            ).repartitionByRange(3, "k")
        )
        v0_model = dict(model)
        next_key = 1000
        for step in range(rng.randint(3, 5)):
            op = rng.choice(["append", "merge", "delete"])
            if op == "append":
                rows = [(next_key + i, -step) for i in range(rng.randint(1, 5))]
                next_key += len(rows)
                t.append(spark.createDataFrame(rows, "k long, v long"))
                model.update(dict(rows))
            elif op == "merge":
                lo = rng.randint(1, 15)
                hi = lo + rng.randint(0, 10)
                rows = [(k, 100 + step) for k in range(lo, hi + 1)]
                t.merge(spark.createDataFrame(rows, "k long, v long"), "k")
                model.update(dict(rows))
            else:
                m = rng.choice([2, 3, 5])
                t.delete_where(F.col("k") % m == 0)
                model = {k: v for k, v in model.items() if k % m != 0}
        got = {r.k: r.v for r in t.read().collect()}
        assert got == model, f"seed {seed}: table != model"
        assert {r.k: r.v for r in t.read(0).collect()} == v0_model


def test_compact_order_by_zorder_narrows_both_dims(spark, tmp_path):
    """compact(order_by=morton) is OPTIMIZE ZORDER: starting from a
    hash-distributed layout (every file spans both full domains), the
    rewritten files must carry NARROW min/max spans on BOTH interleaved
    dimensions, while content and the pre-optimize snapshot stay
    intact. 8 files over an 8-bit 2-D Morton layout → ideal span ~= 1/2
    sqrt-ish of each dim; assert mean spans < 0.6 with quantization
    slack (vs ~1.0 for the hash layout)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from xlsx_to_database_spark.operators.global_order import _zvalue

    t = TxnTable(spark, str(tmp_path / "ztbl"), "k")
    df = spark.range(1, 4097).select(
        F.col("id").alias("k"),
        (F.col("id") % 64).alias("x"),
        ((F.col("id") * 37) % 64).alias("y"),
    )
    t.create(df.repartition(8))

    def spans(col):
        out = []
        for e in t.manifest()["files"]:
            f = os.path.join(str(tmp_path / "ztbl"), e["path"])
            md = pq.ParquetFile(f).metadata
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            ss = [
                md.row_group(g).column(idx).statistics
                for g in range(md.num_row_groups)
            ]
            out.append(
                max(s.max for s in ss) - min(s.min for s in ss)
            )
        return sum(out) / len(out)

    # hash layout: every file spans essentially the whole 0..63 domain
    assert spans("x") > 50 and spans("y") > 50
    z = _zvalue("CAST(x AS INT)", "CAST(y AS INT)", bits=6)
    v, n_before = t.compact(target_files=8, order_by=z)
    assert v == 1 and n_before == 8
    assert spans("x") < 0.6 * 64 and spans("y") < 0.6 * 64
    # content identical, pre-optimize snapshot untouched
    assert t.read().count() == 4096
    assert sorted(r.k for r in t.read().collect()) == list(range(1, 4097))
    assert t.read(0).count() == 4096


def test_bfs_hops_hand_graph(spark):
    """bfs_hops on a hand-built graph: path 1-2-3-4-5 plus a chord 1-3
    and an unreachable island {10, 11}. Distances from node 1 must be
    {1:0, 2:1, 3:1, 4:2, 5:3}; the island never appears; a hop cap of 2
    truncates at distance 2."""
    from xlsx_to_database_spark.queries.graph import bfs_hops

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3), (10, 11)]
    e = spark.createDataFrame(edges, "u long, v long")
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    got = {r.node: r.hops for r in bfs_hops(sym, max_hops=6).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}
    capped = {r.node: r.hops for r in bfs_hops(sym, max_hops=2).collect()}
    assert capped == {1: 0, 2: 1, 3: 1, 4: 2}


def test_restore_is_zero_copy_and_keeps_history(spark, tmp_path):
    from pyspark.sql import functions as F

    from xlsx_to_database_spark.operators.txn_table import TxnTable

    root = str(tmp_path / "restore_t")
    tt = TxnTable(spark, root, "k")
    base = spark.range(100).select(F.col("id").alias("k"))
    tt.create(base.repartitionByRange(2, "k"))
    tt.delete_where(F.col("k") % 2 == 0)
    tt.append(spark.range(100, 110).select(F.col("id").alias("k")))
    v = tt.restore(0)
    assert v == 3
    # zero-copy: the restore manifest references v0's entries verbatim
    # (entry-SET equality: delta-encoded manifests reconstruct in
    # canonical base-order-plus-adds order, which may permute the list)
    def _eset(es):
        return {json.dumps(e, sort_keys=True) for e in es}

    assert _eset(tt.manifest(3)["files"]) == _eset(tt.manifest(0)["files"])
    # final state == v0; damaged versions remain readable history
    assert sorted(r.k for r in tt.read().collect()) == list(range(100))
    assert tt.read(1).count() == 50
    assert tt.read(2).count() == 60


def test_shallow_clone_is_zero_copy_and_isolated(spark, tmp_path):
    """Clone references the source's files (no data copied), diverges
    copy-on-write on merge, and never mutates the source; vacuum on the
    clone must not collect source-owned files."""
    import os

    t = _mk(spark, tmp_path, n=1000)
    clone = t.clone_to(str(tmp_path / "clone"))
    # zero-copy: clone's data dir does not exist yet
    assert not os.path.isdir(str(tmp_path / "clone" / "data"))
    assert clone.read().count() == 1000
    src = spark.range(1, 121).select(
        F.col("id").alias("k"), (F.col("id") * 1000).alias("v")
    )
    clone.merge(src, "k")
    assert clone.read().filter(F.col("v") == F.col("k") * 1000).count() == 120
    assert clone.read().filter(
        (F.col("k") > 120) & (F.col("v") != F.col("k") * 2)
    ).count() == 0
    # source untouched, log isolated
    assert t.read().filter(F.col("v") != F.col("k") * 2).count() == 0
    assert t.latest_version() == 0
    # clone vacuum walks only the clone's own data dir
    deleted, _ = clone.vacuum(retain_versions=1)
    assert t.read().count() == 1000  # source files all still present


def test_three_writers_race_with_interleaved_vacuum(spark, tmp_path):
    """Round-6 hardening (round-5 verdict #4a): THREE concurrent
    appenders with NO caller-side retry, plus a vacuum thread
    interleaving throughout (min_age guard on). Invariants:

    - blind appends NEVER fail under contention: a lost version race
      rebases the same staged files onto the new latest (Delta's
      conflict matrix — appends are conflict-free by construction);
    - every writer's every batch lands exactly ONCE, and the version
      chain is contiguous — the os.link put-if-absent means a lost
      race can never silently shadow the winner's manifest (the old
      check-then-rename would: POSIX rename REPLACES);
    - concurrent vacuum never collects a racer's staged-but-uncommitted
      files (they are younger than the guard), so no committed manifest
      ever references a deleted file;
    - a final unguarded vacuum leaves disk == latest manifest (rebased
      appends leave no orphan stagings; superseded versions' exclusive
      files are collected).
    """
    import glob
    import os
    import threading

    t = _mk(spark, tmp_path, n=100, parts=2)
    writers, batches, rows_per = (1, 2, 3), 3, 5
    errors: list = []

    def writer(wid: int) -> None:
        try:
            tt = TxnTable(spark, t.path, "k")
            for b in range(batches):
                rows = [
                    (wid * 100_000 + b * 1_000 + i, wid)
                    for i in range(rows_per)
                ]
                # No try/except: append must absorb races internally.
                tt.append(spark.createDataFrame(rows, "k long, v long"))
        except Exception as e:  # noqa: BLE001
            errors.append((wid, e))

    stop = threading.Event()

    def vacuumer() -> None:
        tt = TxnTable(spark, t.path, "k")
        while not stop.is_set():
            try:
                # Guarded: fresh (possibly in-flight staged) files are
                # skipped; only files older than the guard could go.
                tt.vacuum(retain_versions=1, min_age_seconds=300)
            except Exception as e:  # noqa: BLE001
                errors.append(("vacuum", e))

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in writers
    ]
    vt = threading.Thread(target=vacuumer)
    vt.start()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    stop.set()
    vt.join()

    assert not errors, errors
    n_commits = len(writers) * batches
    assert t.versions() == list(range(n_commits + 1)), t.versions()
    expected = {k: 2 * k for k in range(1, 101)}
    for wid in writers:
        for b in range(batches):
            for i in range(rows_per):
                expected[wid * 100_000 + b * 1_000 + i] = wid
    got = {r.k: r.v for r in t.read().collect()}
    assert got == expected
    # Orphan accounting: lost races leave staged-but-unreferenced dirs;
    # an unguarded retain-1 vacuum must collect exactly them, leaving
    # the on-disk file set equal to the latest manifest.
    t.vacuum(retain_versions=1, min_age_seconds=0.0)
    on_disk = {
        os.path.relpath(p, t.path)
        for p in glob.glob(
            os.path.join(t.path, "data", "**", "*.parquet"), recursive=True
        )
    }
    assert on_disk == {e["path"] for e in t.manifest()["files"]}
    assert {r.k: r.v for r in t.read().collect()} == expected


def test_append_once_same_token_racers_land_exactly_once(spark, tmp_path):
    """Exactly-once under contention: THREE producers replaying the
    SAME batch with the SAME txn_id concurrently (a retried streaming
    micro-batch fanned out to redundant workers). Exactly one commit
    may carry the token, and the batch's rows must appear exactly once
    — the version-pin-then-scan ordering in append_once is what closes
    the double-commit window (scan-then-pin would let a racer land the
    token between scan and link while our commit still succeeds at the
    next version)."""
    import threading

    t = _mk(spark, tmp_path, n=50, parts=2)
    rows = [(9_000 + i, -1) for i in range(10)]
    outcomes: list = []
    errors: list = []

    def producer() -> None:
        try:
            tt = TxnTable(spark, t.path, "k")
            df = spark.createDataFrame(rows, "k long, v long")
            outcomes.append(tt.append_once(df, "replayed-batch-7"))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=producer) for _ in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    committed = [v for v in outcomes if v is not None]
    assert len(committed) == 1, outcomes  # exactly one wins
    with_token = [
        v for v in t.versions()
        if t.manifest(v).get("txn_id") == "replayed-batch-7"
    ]
    assert with_token == committed
    got = t.read().filter(F.col("k") >= 9_000)
    assert got.count() == 10  # the batch landed once, not 2-3 times


def test_seeded_schedule_stress_three_writers_vacuum_once(spark, tmp_path):
    """Round-6 verdict #7: randomized-SCHEDULE stress — three writers
    per schedule executing a seeded script of blind appends, replayed
    ``append_once`` calls (every token is attempted by >=2 writers),
    and guarded vacuums, with seeded jitter perturbing the thread
    interleaving. 100 small seeded schedules explore interleavings the
    two hand-built race tests above cannot.

    To make 100 schedules affordable, ``_stage_files`` is patched to
    write each 1-row batch as parquet via pyarrow directly — every
    PROTOCOL step under test (version pin, token scan, os.link
    put-if-absent commit, append rebase, vacuum guard + re-validation)
    runs the real code; only the Spark staging job (covered by the two
    real-write race tests above) is substituted. The final read-back
    per schedule is a real Spark read of the pyarrow-written files.

    Invariants per schedule:
    - exactly-once txn_ids: each token appears in EXACTLY ONE committed
      manifest, and its batch's rows appear exactly once in the table;
    - manifest integrity: the version chain is contiguous from 0 and
      every file referenced by the latest manifest exists on disk;
    - no writer observes an error (appends rebase; append_once retries
      internally; guarded vacuum skips fresh files).
    """
    import os
    import random
    import threading
    import time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    n_seeds = int(os.environ.get("SPARK_GRAFT_TXN_STRESS_SEEDS", "100"))

    class FastStageTable(TxnTable):
        # Aggressive checkpointing so the seeded schedules also cover
        # checkpoint-write races and dedup-through-checkpoint paths.
        checkpoint_interval = 2

        def _stage_files(self, rows, version):  # rows: list[(k, v)]
            out = os.path.join(
                self.path, "data",
                f"v{version:010d}-{uuid.uuid4().hex[:8]}",
            )
            os.makedirs(out, exist_ok=True)
            f = os.path.join(out, "part-00000.parquet")
            ks = [k for k, _ in rows]
            pq.write_table(
                pa.table(
                    {"k": pa.array(ks, pa.int64()),
                     "v": pa.array([v for _, v in rows], pa.int64())}
                ),
                f,
            )
            return [{
                "path": os.path.relpath(f, self.path),
                "rows": len(rows),
                "min": min(ks),
                "max": max(ks),
            }]

    for seed in range(n_seeds):
        rng = random.Random(1_000 + seed)
        root = str(tmp_path / f"sched{seed}")
        t = FastStageTable(spark, root, "k")
        t.create([(1, 0)])

        tokens = [f"s{seed}-tok{i}" for i in range(rng.randint(1, 2))]
        # Each token is replayed by 2-3 of the 3 writers.
        assignment: list[list] = [[], [], []]
        for ti, tok in enumerate(tokens):
            for w in rng.sample(range(3), rng.randint(2, 3)):
                assignment[w].append(("once", tok, 100 + ti))
        for w in range(3):
            if rng.random() < 0.5:
                assignment[w].append(("append", None, 200 + w))
            if rng.random() < 0.4:
                assignment[w].append(("vacuum", None, None))
            rng.shuffle(assignment[w])

        errors: list = []

        def writer(w: int, script: list, jseed: int) -> None:
            jrng = random.Random(jseed)
            try:
                tt = FastStageTable(spark, root, "k")
                for op, tok, k in script:
                    time.sleep(jrng.random() * 0.002)
                    if op == "once":
                        tt.append_once([(k, w)], tok)
                    elif op == "append":
                        tt.append([(k, w)])
                    else:
                        tt.vacuum(retain_versions=1, min_age_seconds=300)
            except Exception as e:  # noqa: BLE001
                errors.append((seed, w, e))

        threads = [
            threading.Thread(
                target=writer, args=(w, assignment[w], seed * 10 + w)
            )
            for w in range(3)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()

        assert not errors, errors
        vs = t.versions()
        assert vs == list(range(len(vs))), f"seed {seed}: gap in {vs}"
        # exactly-once txn_ids across all manifests
        seen_tokens: list = []
        for v in vs:
            tok = t.manifest(v).get("txn_id")
            if tok is not None:
                seen_tokens.append(tok)
        assert sorted(seen_tokens) == sorted(tokens), (
            f"seed {seed}: tokens committed {seen_tokens} != {tokens}"
        )
        # every latest-manifest file exists; table readable; token rows once
        entries = t.manifest()["files"]
        missing = [
            e["path"] for e in entries
            if not os.path.exists(os.path.join(root, e["path"]))
        ]
        assert not missing, f"seed {seed}: missing {missing}"
        got = [(r.k, r.v) for r in t.read().collect()]
        ks = [k for k, _ in got]
        for ti in range(len(tokens)):
            assert ks.count(100 + ti) == 1, (
                f"seed {seed}: token batch {100 + ti} appears "
                f"{ks.count(100 + ti)} times"
            )


def test_restore_refuses_vacuumed_snapshot_without_publishing(spark, tmp_path):
    """Round-6 advice (medium): restore() must validate the referenced
    files BEFORE committing — restoring a version whose exclusive files
    were vacuumed must raise and leave the table's latest manifest
    untouched (readers keep a working snapshot), not publish a broken
    snapshot and then raise."""
    t = _mk(spark, tmp_path, n=100, parts=2)
    t.merge(
        spark.createDataFrame([(k, -k) for k in range(1, 101)], "k long, v long"),
        "k",
    )  # v1 rewrites everything: v0's files become exclusive to v0
    before = t.read().collect()
    t.vacuum(retain_versions=1, min_age_seconds=0.0)  # v0 files gone
    latest_before = t.latest_version()
    with pytest.raises(FileNotFoundError):
        t.restore(0)
    assert t.latest_version() == latest_before, (
        "broken restore snapshot was published as latest"
    )
    assert t.read().collect() == before  # latest still fully readable


def test_vacuum_kept_counts_files_on_disk(spark, tmp_path):
    """Round-6 advice (low): vacuum's ``kept`` return value counts the
    parquet files actually remaining on disk, not manifest-referenced
    paths (which can double-count or include never-existing paths after
    the re-validation union)."""
    import glob
    import os

    t = _mk(spark, tmp_path, n=100, parts=4)
    t.append(spark.createDataFrame([(1_000, 1)], "k long, v long").coalesce(1))
    deleted, kept = t.vacuum(retain_versions=1, min_age_seconds=0.0)
    on_disk = len(
        glob.glob(os.path.join(t.path, "data", "**", "*.parquet"), recursive=True)
    )
    assert deleted == 0  # latest references everything
    assert kept == on_disk == 5
    # drop v0's files via a full rewrite, vacuum again
    t.merge(
        spark.createDataFrame([(k, 0) for k in range(1, 1_001)], "k long, v long"),
        "k",
    )
    deleted, kept = t.vacuum(retain_versions=1, min_age_seconds=0.0)
    on_disk = len(
        glob.glob(os.path.join(t.path, "data", "**", "*.parquet"), recursive=True)
    )
    assert deleted == 5 and kept == on_disk


def test_checkpoint_written_and_append_once_dedups_across_it(spark, tmp_path):
    """Txn-log checkpoints (round 7): every ``checkpoint_interval``
    commits a ckpt-v*.json lands carrying ALL txn_ids <= its version;
    append_once must detect a duplicate token through the checkpoint
    (tail scan alone would miss tokens behind it) and stay exactly-once
    for fresh tokens after it."""
    import os

    from xlsx_to_database_spark.operators.txn_table import _ckpt_path

    t = _mk(spark, tmp_path, n=20, parts=1)
    t.checkpoint_interval = 3
    one = spark.createDataFrame([(500, 0)], "k long, v long").coalesce(1)
    assert t.append_once(one, "tok-a") == 1
    assert t.append(one) == 2
    assert t.append_once(one, "tok-b") == 3  # v3 -> checkpoint written
    assert os.path.exists(_ckpt_path(t.path, 3))
    ck = t._latest_checkpoint()
    assert ck["version"] == 3 and set(ck["txn_ids"]) == {"tok-a", "tok-b"}
    # replay BOTH tokens: behind the checkpoint and at it — must no-op
    assert t.append_once(one, "tok-a") is None
    assert t.append_once(one, "tok-b") is None
    assert t.latest_version() == 3
    # fresh tokens keep landing; next checkpoint at v6 includes all
    assert t.append_once(one, "tok-c") == 4
    assert t.append(one) == 5
    assert t.append_once(one, "tok-d") == 6
    ck = t._latest_checkpoint()
    assert ck["version"] == 6
    assert set(ck["txn_ids"]) == {"tok-a", "tok-b", "tok-c", "tok-d"}
    assert t.append_once(one, "tok-c") is None


def test_checkpoint_scan_is_tail_bounded(spark, tmp_path):
    """The dedup scan must read the checkpoint + tail only: after the
    checkpoint at v20, _txn_ids_before must not open manifests <= 20.
    Pinned by counting manifest opens via a counting subclass."""
    from tests.conftest import battery_n

    # Default tier: checkpoint at v6 with 8 real append_once commits
    # (the tail-bounding property is interval-independent); full tier
    # keeps the original v20/22-commit shape (r14 verify-budget split
    # — each real commit is seconds, so 22 of them were ~160 s).
    interval = battery_n(6, 20)
    n_appends = interval + 2
    t = _mk(spark, tmp_path, n=20, parts=1)
    t.checkpoint_interval = interval
    one = spark.createDataFrame([(900, 0)], "k long, v long").coalesce(1)
    for i in range(n_appends):
        t.append_once(one, f"tok-{i}")
    assert t._latest_checkpoint()["version"] == interval

    opened = []
    orig = type(t).manifest

    class Counting(type(t)):
        def manifest(self, version=None):
            opened.append(version)
            return orig(self, version)

    c = Counting(spark, t.path, "k")
    seen = c._txn_ids_before(c.latest_version() + 1)
    assert {f"tok-{i}" for i in range(n_appends)} <= seen
    old_opens = [v for v in opened if v is not None and v <= interval]
    assert not old_opens, f"scanned behind the checkpoint: {old_opens}"


def test_footer_stats_match_aggregate_stats(spark, tmp_path):
    """Round-7: _stage_files reads per-file stats from parquet footers
    (no second Spark job). The footer-derived manifest entries must be
    IDENTICAL to the aggregate-derived ones on the same staged files,
    and non-numeric stats columns must fall back (parquet may truncate
    string min/max, which would corrupt pruning bounds)."""
    import os

    t = TxnTable(spark, str(tmp_path / "ft"), "k")
    df = spark.range(1, 1001).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartitionByRange(4, "k")
    t.create(df)
    entries = t.manifest()["files"]
    assert len(entries) == 4
    # recompute via the aggregate path over the same files and compare
    staged_dir = os.path.join(t.path, os.path.dirname(entries[0]["path"]))
    agg_rows = (
        spark.read.parquet(staged_dir)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.count(F.lit(1)).alias("rows"), F.min("k").alias("lo"),
             F.max("k").alias("hi"))
        .collect()
    )
    agg = {
        os.path.basename(r["f"]): (r["rows"], r["lo"], r["hi"])
        for r in agg_rows
    }
    for e in entries:
        assert agg[os.path.basename(e["path"])] == (
            e["rows"], e["min"], e["max"]
        )
    # string stats column: footer path must decline (return None)
    ts = TxnTable(spark, str(tmp_path / "fs"), "name")
    sdf = spark.createDataFrame(
        [(i, f"n{i:04d}") for i in range(50)], "k long, name string"
    ).coalesce(1)
    ts.create(sdf)
    m = ts.manifest()["files"]
    assert m[0]["min"] == "n0000" and m[0]["max"] == "n0049"
    # all-null stats column: conservative None bounds survive
    tn = TxnTable(spark, str(tmp_path / "fn"), "v")
    ndf = spark.createDataFrame(
        [(i, None) for i in range(10)], "k long, v double"
    ).coalesce(1)
    tn.create(ndf)
    m = tn.manifest()["files"]
    assert m[0]["min"] is None and m[0]["max"] is None


def test_merge_retries_through_disjoint_concurrent_append(spark, tmp_path):
    """Delta's conflict matrix for MERGE (round 7): a merge that loses
    its version race to a commit OUTSIDE its key range must retry
    transparently, adopting the racer's files by reference; a racer
    INSIDE the range must surface ConcurrentWriteError. The racer is
    injected deterministically between the merge's staging and its
    commit via a _commit hook."""
    orig_commit = TxnTable._commit

    def run(racer_keys, expect_conflict):
        import shutil

        root = str(tmp_path / f"mr_{racer_keys[0]}_{expect_conflict}")
        shutil.rmtree(root, ignore_errors=True)
        t = TxnTable(spark, root, "k")
        t.create(
            spark.range(1, 1001).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).repartitionByRange(4, "k")
        )
        racer = TxnTable(spark, root, "k")
        fired = {"n": 0}

        class Hooked(TxnTable):
            def _commit(self, version, op, files, txn_id=None, **kw):
                if op == "merge" and fired["n"] == 0:
                    fired["n"] = 1
                    racer.append(
                        spark.createDataFrame(
                            [(rk, -9) for rk in racer_keys],
                            "k long, v long",
                        ).coalesce(1)
                    )
                return orig_commit(self, version, op, files, txn_id, **kw)

        h = Hooked(spark, root, "k")
        src = spark.range(1, 61).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        )
        if expect_conflict:
            with pytest.raises(ConcurrentWriteError):
                h.merge(src, "k")
            return None
        v, rewritten, carried = h.merge(src, "k")
        assert fired["n"] == 1  # the race actually happened
        got = {r.k: r.v for r in t.read().collect()}
        expect = {k: 2 * k for k in range(1, 1001)}
        expect.update({k: -1 for k in range(1, 61)})
        expect.update({rk: -9 for rk in racer_keys})
        assert got == expect  # racer's rows AND merge both landed
        return rewritten

    # racer appends keys FAR outside the merge's [1, 60] range: retry
    run([5_000, 5_001], expect_conflict=False)
    # racer appends a key INSIDE the range: stale pruning, must raise
    run([30], expect_conflict=True)


def test_merge_target_file_rows_sizes_output(spark, tmp_path):
    """Optimized write: target_file_rows splits the rewritten output
    into ~right-sized, key-clustered files (with pruning intact)."""
    t = _mk(spark, tmp_path, n=1000, parts=2)  # 2 files of 500
    src = spark.range(1, 401).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    v, rewritten, carried = t.merge(src, "k", target_file_rows=150)
    # touched file(s) cover k<=500; est rows ~500(+) -> ceil/150 = 4 files
    m = t.manifest()["files"]
    staged = [e for e in m if f"v{v:010d}" in e["path"]]
    assert len(staged) >= 3, staged
    assert all(e["rows"] <= 260 for e in staged), staged
    assert t.read().count() == 1000
    assert t.read().filter(F.col("v") == -1).count() == 400


def _negate_all(spark, n=100):
    return spark.createDataFrame(
        [(k, -k) for k in range(1, n + 1)], "k long, v long"
    )


def _sabotaged_restore(spark, t, victim_rel):
    """Drive t.restore(0) into the post-commit vacuum-race branch by
    unlinking ``victim_rel`` between the pre-check and the commit
    (exactly where a concurrent vacuum can land)."""
    import os

    orig = t._commit
    state = {"unlinked": False}

    def patched(version, op, files, **kw):
        if op.startswith("restore(") and not state["unlinked"]:
            state["unlinked"] = True
            os.unlink(os.path.join(t.path, victim_rel))
        return orig(version, op, files, **kw)

    t._commit = patched
    with pytest.raises(FileNotFoundError):
        t.restore(0)
    t._commit = orig


def test_cdc_skips_failed_restore_pair_atomically(spark, tmp_path):
    """Round-7 advice (low): a restore that was rolled back must not
    leak its delete/insert rows into a CDC window spanning the pair —
    the feed must still fold to the end-version state; and a window
    STARTING at the broken restore snapshot is refused loudly."""
    t = _mk(spark, tmp_path, n=100, parts=2)
    t.merge(_negate_all(spark), "k")          # v1 rewrites everything
    t.append(                                  # v2: content in-window
        spark.createDataFrame([(500, 500)], "k long, v long").coalesce(1)
    )
    _sabotaged_restore(spark, t, t.manifest(0)["files"][0]["path"])
    assert t.latest_version() == 4            # v3 broken, v4 rollback
    assert t.manifest(4)["op"].startswith("restore-rollback")
    feed = t.read_changes_rows(1, 4).collect()
    ins = sorted((r.k, r.v) for r in feed if r._change_type == "insert")
    dels = sorted((r.k, r.v) for r in feed if r._change_type == "delete")
    initial = sorted((r.k, r.v) for r in t.read(1).collect())
    final = sorted((r.k, r.v) for r in t.read(4).collect())
    from collections import Counter

    folded = Counter(initial) + Counter(ins) - Counter(dels)
    assert folded == Counter(final), (
        "CDC feed across the failed restore does not fold to the "
        "end-version state"
    )
    assert ins == [(500, 500)] and dels == []  # the pair emitted nothing
    with pytest.raises(ValueError):
        t.read_changes_rows(3, 4)             # base = broken snapshot


def test_restore_rollback_rebases_over_racing_append(spark, tmp_path):
    """Round-7 advice (low): a blind append can rebase onto the BROKEN
    restore manifest and carry the vacuumed references forward; the
    rollback must then not swallow its lost race — it re-checks latest
    and retries REBASED (prior file set + the racer's files), leaving
    latest readable with both the pre-restore content and the racer's
    rows."""
    import os

    t = _mk(spark, tmp_path, n=100, parts=2)
    t.merge(_negate_all(spark), "k")          # v1 rewrites everything
    victim = t.manifest(0)["files"][0]["path"]
    orig = t._commit
    state = {"unlinked": False, "raced": False}

    def patched(version, op, files, **kw):
        if op.startswith("restore(") and not state["unlinked"]:
            state["unlinked"] = True
            os.unlink(os.path.join(t.path, victim))
        if op.startswith("restore-rollback") and not state["raced"]:
            state["raced"] = True
            racer = TxnTable(spark, t.path, "k")
            racer.append(
                spark.createDataFrame([(999, 999)], "k long, v long")
                .coalesce(1)
            )  # rebases onto the broken v2, carrying the vacuumed ref
        return orig(version, op, files, **kw)

    t._commit = patched
    with pytest.raises(FileNotFoundError):
        t.restore(0)
    t._commit = orig
    man = t.manifest()
    assert man["op"].startswith("restore-rollback")
    missing = [
        e["path"] for e in man["files"]
        if not os.path.exists(os.path.join(t.path, e["path"]))
    ]
    assert not missing, f"latest still references vacuumed files: {missing}"
    got = {r.k: r.v for r in t.read().collect()}
    assert got[999] == 999, "racer's append lost by the rebased rollback"
    assert got[1] == -1 and len(got) == 101, "pre-restore content lost"


def test_restore_rollback_preserves_prior_dv(spark, tmp_path):
    """The rebase's shared-path rule: an entry the racer merely CARRIED
    from the broken manifest reverts to the prior version's state —
    including its deletion vector (the restore had discarded it; losing
    it on rollback would resurrect deleted rows)."""
    import os

    t = _mk(spark, tmp_path, n=100, parts=2)
    t.delete_where_dv(F.col("k") <= 10)       # v1: DV on v0's files
    t.merge(                                   # v2: rewrite k>=90 only
        spark.createDataFrame([(k, -k) for k in range(90, 101)],
                              "k long, v long"),
        "k",
    )
    # restore(0) discards the DV; sabotage makes it fail + roll back.
    # Victim: referenced by restore(0) but NOT by the prior v2 snapshot
    # (the merge's rewritten pre-image), so the rollback target stays
    # intact and readable.
    victim = [
        e["path"] for e in t.manifest(0)["files"] if e["path"] not in
        {x["path"] for x in t.manifest(2)["files"]}
    ][0]
    orig = t._commit
    state = {"unlinked": False}

    def patched(version, op, files, **kw):
        if op.startswith("restore(") and not state["unlinked"]:
            state["unlinked"] = True
            os.unlink(os.path.join(t.path, victim))
        return orig(version, op, files, **kw)

    t._commit = patched
    with pytest.raises(FileNotFoundError):
        t.restore(0)
    t._commit = orig
    got = {r.k: r.v for r in t.read().collect()}
    assert all(k > 10 for k in got), "rollback resurrected DV-deleted rows"
    assert got[90] == -90 and len(got) == 90


def test_restore_rollback_survives_vacuum_racing_rollback(spark, tmp_path):
    """Round-10 find (the rollback-WINDOW race, one step past
    test_restore_rollback_rebases_over_racing_append): while a broken
    restore is latest, a ``vacuum(retain_versions=1)`` keeps only the
    broken manifest's files — so it could collect the PRIOR version's
    exclusive files, and the subsequent rollback published a latest
    referencing deleted files, violating restore's own "readers of
    latest keep working either way" guarantee. Fixed in vacuum: a
    retained ``restore(...)`` manifest is provisional until its
    post-commit verify completes, so it pins its rollback target's
    (prior version's) files too (``_pinned``)."""
    import os

    t = _mk(spark, tmp_path, n=100, parts=2)
    t.merge(_negate_all(spark), "k")          # v1 rewrites everything
    victim = t.manifest(0)["files"][0]["path"]
    orig = t._commit
    state = {"unlinked": False, "vacuumed": False}

    def patched(version, op, files, **kw):
        if op.startswith("restore(") and not state["unlinked"]:
            state["unlinked"] = True
            os.unlink(os.path.join(t.path, victim))
        if op.startswith("restore-rollback") and not state["vacuumed"]:
            state["vacuumed"] = True
            racer = TxnTable(spark, t.path, "k")
            # latest = the broken restore v2; v1's exclusive files are
            # unreferenced by it — collectible before the fix
            racer.vacuum(retain_versions=1, min_age_seconds=0.0)
        return orig(version, op, files, **kw)

    t._commit = patched
    with pytest.raises(FileNotFoundError):
        t.restore(0)
    t._commit = orig
    man = t.manifest()
    assert man["op"].startswith("restore-rollback")
    missing = [
        e["path"] for e in man["files"]
        if not os.path.exists(os.path.join(t.path, e["path"]))
    ]
    assert not missing, f"latest references vacuumed files: {missing}"
    got = {r.k: r.v for r in t.read().collect()}
    assert got[1] == -1 and len(got) == 100, "pre-restore content lost"


def test_restore_rollback_pin_survives_rebased_append_then_vacuum(
    spark, tmp_path
):
    """The seed-79 interleaving from the restore-vacuum schedule
    stress: a blind append REBASES onto the broken restore before the
    rollback lands, so the vacuum's retained manifest is an APPEND
    carrying the missing reference — an op-based 'pin the prior of a
    retained restore' misses it, the vacuum collects the rollback
    target's exclusive files, and the rebased rollback publishes a
    latest referencing deleted files. The pin is therefore
    STATE-based: a retained non-restore manifest referencing missing
    files pins the prior of the most recent restore below it."""
    import os

    t = _mk(spark, tmp_path, n=100, parts=2)
    t.merge(_negate_all(spark), "k")          # v1 rewrites everything
    victim = t.manifest(0)["files"][0]["path"]
    orig = t._commit
    state = {"unlinked": False, "raced": False}

    def patched(version, op, files, **kw):
        if op.startswith("restore(") and not state["unlinked"]:
            state["unlinked"] = True
            os.unlink(os.path.join(t.path, victim))
        if op.startswith("restore-rollback") and not state["raced"]:
            state["raced"] = True
            racer = TxnTable(spark, t.path, "k")
            racer.append(                      # rebases onto broken v2
                spark.createDataFrame([(999, 999)], "k long, v long")
                .coalesce(1)
            )
            # retained manifest is now the APPEND (broken by carry);
            # v1's exclusive files must still be pinned for the
            # pending rollback
            racer.vacuum(retain_versions=1, min_age_seconds=0.0)
        return orig(version, op, files, **kw)

    t._commit = patched
    with pytest.raises(FileNotFoundError):
        t.restore(0)
    t._commit = orig
    man = t.manifest()
    assert man["op"].startswith("restore-rollback")
    missing = [
        e["path"] for e in man["files"]
        if not os.path.exists(os.path.join(t.path, e["path"]))
    ]
    assert not missing, f"latest references vacuumed files: {missing}"
    got = {r.k: r.v for r in t.read().collect()}
    assert got[999] == 999 and got[1] == -1 and len(got) == 101


def test_restore_rollback_rewrites_aliasing_racer_column(spark, tmp_path):
    """The rollback leg of the round-9 schema-race fix: a racer that
    blind-appends a NEW column during the rollback window allocates
    against the BROKEN restore's map, so its fresh physical name can
    alias a LIVE prior physical reached through a historic rename
    (prior: y reads physical 'x'; racer: new logical 'x' allocated
    physical 'x'). Blind-merging the maps published a duplicate
    physical (now hard-refused by _commit, which would abort the
    rollback); dropping the racer mapping alone would leak the racer's
    values into prior 'y' on merged reads. The rollback must REWRITE
    the racer's file under a fresh slot, keeping both columns exact."""
    import os

    t = _mk(spark, tmp_path, n=100, parts=2)
    t.rename_column("v", "val")                               # v1
    t.merge(                                                  # v2: rewrites
        spark.range(1, 101).select(                           # ALL v1 files,
            F.col("id").alias("k"), (-F.col("id")).alias("val")
        ),
        "k",
    )                                                         # -> vacuumable
    t.append(spark.createDataFrame([(200, 1, 7)],
                                   "k long, val long, x long").coalesce(1))
    t.rename_column("x", "y")                                 # y -> phys x
    victim = t.manifest(1)["files"][0]["path"]
    orig = t._commit
    state = {"unlinked": False, "raced": False}

    def patched(version, op, files, txn_id=None, **kw):
        if op.startswith("restore(") and not state["unlinked"]:
            state["unlinked"] = True
            os.unlink(os.path.join(t.path, victim))
        if op.startswith("restore-rollback") and not state["raced"]:
            state["raced"] = True
            racer = TxnTable(spark, t.path, "k")
            racer.append(  # snapshot = broken restore(1): 'x' is NEW
                spark.createDataFrame([(300, 2, 9)],
                                      "k long, val long, x long")
                .coalesce(1)
            )
        return orig(version, op, files, txn_id=txn_id, **kw)

    t._commit = patched
    with pytest.raises(FileNotFoundError):
        t.restore(1)
    t._commit = orig
    man = t.manifest()
    assert man["op"].startswith("restore-rollback")
    cm = man["columns"]
    assert len(set(cm.values())) == len(cm.values()), f"dup physical: {cm}"
    assert cm["y"] == "x" and cm["x"] != "x", (
        f"racer's column was not re-slotted: {cm}"
    )
    got = {r.k: (r.y, r.x) for r in t.read().collect()}
    assert got[200][0] == 7, "prior y value lost"
    assert got[300] == (None, 9), (
        "racer's x leaked into y, or its value was lost"
    )
    assert got[1] == (None, None) and len(got) == 102
    # The fresh physical slot must be TYPE-registered (round-10 review):
    # the rewrite re-keys the racer's registered type through the
    # rename, so a later mistyped write to the re-slotted column is
    # refused rather than first-claiming the slot as a new type.
    assert man["schema"][cm["x"]] == "bigint", man["schema"]


def test_merge_extension_refuses_racing_logical_claim(
    spark, tmp_path, monkeypatch
):
    """Merge leg of _rebased_map_extension: a MERGE adding new source
    column 'w' that loses its race to a rename claiming logical 'w'
    under a different physical must refuse (ConcurrentWriteError), not
    publish a map pointing 'w' at the merge's slot (which would orphan
    the renamed column's bytes)."""
    from xlsx_to_database_spark.operators.txn_table import (
        ConcurrentWriteError,
    )

    t = _mk(spark, tmp_path, n=100, parts=2)
    t.rename_column("v", "val")
    orig_commit = t._commit
    raced = {"done": False}

    def commit_and_race(version, op, files, txn_id=None, **kw):
        if op == "merge" and not raced["done"]:
            raced["done"] = True
            racer = TxnTable(spark, t.path, "k")
            racer.rename_column("val", "w")
        return orig_commit(version, op, files, txn_id=txn_id, **kw)

    monkeypatch.setattr(t, "_commit", commit_and_race)
    with pytest.raises(ConcurrentWriteError):
        t.merge(
            spark.createDataFrame([(5, 1, 10)],
                                  "k long, val long, w long"),
            "k",
        )
    cm = t._cmap()
    assert len(set(cm.values())) == len(cm.values()), f"dup physical: {cm}"
    assert t.read().columns == ["k", "w"]  # the rename's claim intact
    assert {r.w for r in t.read().filter(F.col("k") == 5).collect()} == {10}


def test_cdc_rollback_pairs_only_with_matching_restore_target(spark, tmp_path):
    """Round-8 advice (low): the CDC reader paired restore-rollback
    with its restore by ADJACENCY + op-prefix alone. A rebased rollback
    (racers landed between the broken restore and the rollback) can end
    up adjacent to an UNRELATED successful restore; prefix-pairing then
    atomically skipped BOTH commits, silently dropping the unrelated
    restore's real content change from the feed. The pair rule must
    also compare the embedded restore-target versions."""
    from collections import Counter

    t = _mk(spark, tmp_path, n=4, parts=1)                    # v0: {1..4}
    t.append(spark.createDataFrame([(10, 10)], "k long, v long").coalesce(1))
    t.append(spark.createDataFrame([(20, 20)], "k long, v long").coalesce(1))
    t.restore(1)          # v3: UNRELATED successful restore — deletes (20,20)
    assert t.manifest(3)["op"] == "restore(1)"
    # v4: a rebased restore-rollback(0) from an earlier broken restore
    # whose racers were adopted — after rebase its file set equals
    # latest's (content no-op), exactly what the reader must treat as
    # "not restore(1)'s pair". Committed directly: driving the real
    # double-race (sabotaged restore + racing restore winning the
    # rollback's version) through threads is non-deterministic, and the
    # unit under test is the READER's pairing rule over the history.
    t._commit(4, "restore-rollback(0)", t.manifest(3)["files"],
              columns=t.manifest(3).get("columns"))
    feed = t.read_changes_rows(0, 4).collect()
    ins = Counter((r.k, r.v) for r in feed if r._change_type == "insert")
    dels = Counter((r.k, r.v) for r in feed if r._change_type == "delete")
    initial = Counter((r.k, r.v) for r in t.read(0).collect())
    final = Counter((r.k, r.v) for r in t.read(4).collect())
    assert initial + ins - dels == final, (
        "mis-paired rollback dropped the unrelated restore's change"
    )
    # the unrelated restore's delete is in the feed (prefix-pairing
    # skipped v3 and left this 0); the rollback (same file set as its
    # predecessor) contributed nothing on top of v2's append insert
    assert dels[(20, 20)] == 1 and ins[(20, 20)] == 1


def test_merge_narrow_source_preserves_unmentioned_columns(spark, tmp_path):
    """Delta MERGE parity: a target column the source OMITS is
    unmentioned, not deleted — matched and unmatched rows in rewritten
    files keep their value; inserted rows read NULL. (Selecting only
    source columns would silently NULL the omitted column for every
    row of every rewritten file.)"""
    t = TxnTable(spark, str(tmp_path / "narrow"), "k")
    t.create(
        spark.range(1, 101).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.concat(F.lit("tag"), F.col("id")).alias("label"),
        ).repartitionByRange(2, "k")
    )
    t.merge(  # updates k=5, inserts k=500; 'label' never mentioned
        spark.createDataFrame([(5, -5), (500, -500)], "k long, v long"),
        "k",
    )
    got = {r.k: (r.v, r.label) for r in t.read().collect()}
    assert got[5] == (-5, "tag5"), "matched row lost its unmentioned column"
    assert got[7] == (14, "tag7"), (
        "unmatched row in a rewritten file lost its unmentioned column"
    )
    assert got[500] == (-500, None)
    assert len(got) == 101


def test_merge_narrow_source_under_column_map(spark, tmp_path):
    """The same rule through a column map: rename 'label' first, then
    narrow-merge — the renamed unmentioned column must survive."""
    t = TxnTable(spark, str(tmp_path / "narrowcm"), "k")
    t.create(
        spark.range(1, 51).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.concat(F.lit("tag"), F.col("id")).alias("label"),
        ).repartitionByRange(2, "k")
    )
    t.rename_column("label", "tag")
    t.merge(
        spark.createDataFrame([(3, -3)], "k long, v long"), "k"
    )
    got = {r.k: (r.v, r.tag) for r in t.read().collect()}
    assert got[3] == (-3, "tag3") and got[4] == (8, "tag4")
    assert len(got) == 50


#: The content-preserving rewrites that share one layout-op conflict
#: rule, each as (set-up, rewrite call). reorg_purge first needs hot
#: deletion vectors: deleting every even key leaves each file 50 %
#: deleted, past the 0.2 threshold.
_REWRITES = {
    "compact": (None, lambda t: t.compact(target_files=2)),
    "compact_small": (None, lambda t: t.compact_small(max_rows=1000)),
    "reorg_purge": (
        lambda t: t.delete_where_dv(F.col("k") % 2 == 0),
        lambda t: t.reorg_purge(max_deleted_ratio=0.2),
    ),
}


def _rewrite_under_race(spark, tmp_path, monkeypatch, op, race):
    """Build the 4-file table, run ``op``'s set-up, then run ``op``
    with ``race(racer)`` landing once just before its first commit.
    Returns (table, live {k: v} before the op, op thunk)."""
    t = _mk(spark, tmp_path, n=100, parts=4)
    setup, run = _REWRITES[op]
    if setup is not None:
        setup(t)
    before = {r.k: r.v for r in t.read().collect()}
    orig = t._commit
    raced = {"done": False}

    def patched(version, op_str, files, txn_id=None, **kw):
        if op_str == op and not raced["done"]:
            raced["done"] = True
            race(TxnTable(spark, t.path, "k"))
        return orig(version, op_str, files, txn_id=txn_id, **kw)

    monkeypatch.setattr(t, "_commit", patched)
    return t, before, lambda: run(t)


@pytest.mark.parametrize("op", sorted(_REWRITES))
def test_compact_adopts_racing_blind_append(
    spark, tmp_path, monkeypatch, op
):
    """Delta's layout-op conflict matrix: an OPTIMIZE that loses its
    version race to a BLIND APPEND must retry adopting the racer's
    files by reference — neither dropping them (the pre-round-8 silent
    corruption) nor raising (which would make continuous compaction
    starve under steady ingest)."""
    t, before, run = _rewrite_under_race(
        spark, tmp_path, monkeypatch, op,
        lambda racer: racer.append(
            spark.createDataFrame([(999, 999)], "k long, v long")
            .coalesce(1)
        ),
    )
    base = t.latest_version()
    v = run()[0]
    assert v == base + 2  # racer took base+1, the rewrite landed next
    assert t.manifest()["op"] == op
    got = {r.k: r.v for r in t.read().collect()}
    assert got[999] == 999, f"{op} dropped the racing append"
    assert got == {**before, 999: 999}
    # racer's file carried by REFERENCE (not rewritten)
    racer_paths = {
        e["path"] for e in t.manifest(base + 1)["files"]
    } - {e["path"] for e in t.manifest(base)["files"]}
    assert racer_paths <= {e["path"] for e in t.manifest(v)["files"]}


@pytest.mark.parametrize("op", sorted(_REWRITES))
def test_compact_refuses_racing_dv_delete_on_input(
    spark, tmp_path, monkeypatch, op
):
    """The refuse half: a DV delete that lands on one of the rewrite's
    INPUT files between its read and its commit makes the rewrite's
    live view stale — committing it would resurrect the freshly
    deleted rows, so it must raise, and the table must keep the
    racer's delete."""
    t, before, run = _rewrite_under_race(
        spark, tmp_path, monkeypatch, op,
        lambda racer: racer.delete_where_dv(F.col("k") <= 10),
    )
    base = t.latest_version()
    with pytest.raises(ConcurrentWriteError):
        run()
    assert t.latest_version() == base + 1
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {k: x for k, x in before.items() if k > 10}, (
        "the racer's DV delete was lost"
    )

