"""Deletion-vector (merge-on-read DELETE) tests for the txn table.

``delete_where_dv`` must delete logically without touching data files,
merge with prior vectors, survive time travel / clone / restore /
vacuum, be materialized by any rewrite, and make MERGE's conflict
matrix refuse a retry across an interleaved DV delete — the property
set that makes a GDPR-style sparse delete O(matches) instead of
O(table) at 100 TB.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from xlsx_to_database_spark.operators.txn_table import (
    ConcurrentWriteError,
    TxnTable,
)


#: Table directory names that ``_metadata.file_path`` percent-encodes
#: (space, ``%``, brackets, braces) or keeps although a plain URL quote
#: would encode them, and names Spark's reader would take as a glob.
ENCODED_DIRS = ["a b", "p%41", "x+y(1)", "é,;=@$&!'~*", "t[u]{v}"]


def _mk(spark, tmp_path, n=1000, parts=4, name="tbl"):
    t = TxnTable(spark, str(tmp_path / name), "k")
    df = spark.range(1, n + 1).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.create(df.repartitionByRange(parts, "k"))
    return t


def _data_files(t):
    return sorted(
        glob.glob(os.path.join(t.path, "data", "**", "*.parquet"),
                  recursive=True)
    )


def test_dv_delete_no_rewrite_correct_content(spark, tmp_path):
    t = _mk(spark, tmp_path)
    before = _data_files(t)
    v, marked, deleted = t.delete_where_dv(F.col("k") % 10 == 0)
    assert (v, marked, deleted) == (1, 4, 100)
    # merge-on-read: ZERO data files written or removed
    assert _data_files(t) == before
    assert t.read().count() == 900
    assert t.read().filter(F.col("k") % 10 == 0).count() == 0
    # sidecar exists and is referenced by every hit entry
    m = t.manifest()
    assert all(e["dv"]["deleted"] > 0 for e in m["files"])
    dv_abs = os.path.join(t.path, m["files"][0]["dv"]["path"])
    assert os.path.exists(dv_abs)


def test_dv_no_match_commits_nothing(spark, tmp_path):
    t = _mk(spark, tmp_path, n=50)
    v, marked, deleted = t.delete_where_dv(F.col("k") > 10_000)
    assert (v, marked, deleted) == (0, 0, 0)
    assert t.latest_version() == 0


def test_dv_null_pred_rows_survive(spark, tmp_path):
    # SQL DELETE semantics: pred-NULL rows are NOT deleted.
    t = TxnTable(spark, str(tmp_path / "tbl"), "k")
    df = spark.range(1, 11).select(
        F.col("id").alias("k"),
        F.when(F.col("id") <= 5, F.col("id")).alias("v"),  # v NULL for k>5
    )
    t.create(df.coalesce(1))
    t.delete_where_dv(F.col("v") < 3)  # NULL for k>5 -> survive
    assert {r.k for r in t.read().collect()} == {3, 4, 5, 6, 7, 8, 9, 10}


def test_dv_second_delete_merges_vectors(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where_dv(F.col("k") % 10 == 0)
    v2, marked2, deleted2 = t.delete_where_dv(F.col("k") % 7 == 0)
    # 142 multiples of 7 in 1..1000, minus the 14 already deleted (70s)
    assert (marked2, deleted2) == (4, 128)
    assert t.read().count() == 1000 - 100 - 128
    # every entry references ONE sidecar covering all its deleted rows
    for e in t.manifest()["files"]:
        assert e["dv"]["deleted"] > 0
    # re-deleting the same rows is a no-op (DV-applied probe)
    v3, m3, d3 = t.delete_where_dv(F.col("k") % 10 == 0)
    assert (m3, d3) == (0, 0) and v3 == v2


def test_dv_time_travel_sees_predelete_snapshot(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where_dv(F.col("k") <= 100)
    assert t.read(0).count() == 1000
    assert t.read(1).count() == 900


def test_dv_identity_scan_row_conservation(spark, tmp_path):
    # The identity scan must see every physical row, and the sidecar
    # translation (_dv_rows) must resolve every deleted row to a scan
    # URI — a _metadata.file_path format drift would break the latter
    # silently (anti-join misses -> resurrection), so pin both counts.
    t = _mk(spark, tmp_path)
    entries = t.manifest()["files"]
    assert t._scan_identity(entries).count() == sum(
        e["rows"] for e in entries
    )
    t.delete_where_dv(F.col("k") % 10 == 0)
    dvd = [e for e in t.manifest()["files"] if e.get("dv")]
    assert t._dv_rows(dvd).count() == 100
    uris = {r["__fp"] for r in t._dv_rows(dvd).select("__fp").distinct().collect()}
    scan_uris = {
        r["__fp"]
        for r in t._scan_identity(dvd).select("__fp").distinct().collect()
    }
    assert uris <= scan_uris, "sidecar URIs unmatched by the scan"


def test_dv_compact_materializes_vectors(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where_dv(F.col("k") % 10 == 0)
    t.compact(target_files=2)
    m = t.manifest()
    assert all(not e.get("dv") for e in m["files"])
    assert t.read().count() == 900
    assert t.read().filter(F.col("k") % 10 == 0).count() == 0


def test_dv_merge_rewrite_applies_vector(spark, tmp_path):
    # A MERGE whose key range covers dv'd files must not resurrect
    # deleted rows in the rewrite.
    t = _mk(spark, tmp_path)
    t.delete_where_dv(F.col("k").isin(1, 2, 3))
    src = spark.createDataFrame([(2, 999), (1001, 42)], "k long, v long")
    t.merge(src, "k")
    got = {r.k: r.v for r in t.read().filter(F.col("k") <= 5).collect()}
    # k=1,3 stay deleted; k=2 re-inserted by the merge (upsert wins)
    assert got == {2: 999, 4: 8, 5: 10}
    assert t.read().filter(F.col("k") == 1001).count() == 1


def test_dv_vacuum_keeps_live_sidecar_collects_dead(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where_dv(F.col("k") % 10 == 0)
    dv1 = t.manifest()["files"][0]["dv"]["path"]
    deleted, _ = t.vacuum(retain_versions=1)
    assert deleted == 0  # everything (data + sidecar) is referenced
    assert os.path.exists(os.path.join(t.path, dv1))
    assert t.read().count() == 900
    # compact away the DV, then vacuum: old data files AND the now-
    # unreferenced sidecar are collected
    t.compact(target_files=2)
    deleted2, _ = t.vacuum(retain_versions=1)
    assert deleted2 == 5  # 4 original data files + 1 sidecar
    assert not os.path.exists(os.path.join(t.path, dv1))
    assert t.read().count() == 900


def test_dv_restore_validates_sidecar(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where_dv(F.col("k") % 10 == 0)  # v1 (dv'd)
    t.compact(target_files=2)  # v2
    dv1 = os.path.join(t.path, t.manifest(1)["files"][0]["dv"]["path"])
    os.remove(dv1)  # simulate an over-eager vacuum
    with pytest.raises(FileNotFoundError):
        t.restore(1)
    # latest is still the intact v2 — restore refused BEFORE committing
    assert t.read().count() == 900


def test_dv_clone_applies_source_vectors(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where_dv(F.col("k") % 10 == 0)
    c = t.clone_to(str(tmp_path / "clone"))
    assert c.read().count() == 900
    assert c.read().filter(F.col("k") % 10 == 0).count() == 0
    # a NEW DV delete on the clone keys off the pinned source key and
    # never mutates the source
    c.delete_where_dv(F.col("k") % 7 == 0)
    assert c.read().count() == 900 - 128
    assert t.read().count() == 900


def test_dv_then_cow_delete_composes(spark, tmp_path):
    # A copy-on-write delete over a DV'd table must apply the vectors
    # in its rewrite (no resurrection) and in its probe (a file whose
    # only matches are DV-deleted is not rewritten).
    t = _mk(spark, tmp_path)
    t.delete_where_dv(F.col("k").isin(10, 500))
    v, rewritten, carried = t.delete_where(F.col("k") % 2 == 1)
    assert rewritten == 4
    ks = {r.k for r in t.read().filter(F.col("k") <= 12).collect()}
    assert ks == {2, 4, 6, 8, 12}  # odds CoW-deleted, 10 DV-deleted
    assert t.read().count() == 1000 - 500 - 2
    # rewritten files carry no DV
    assert all(not e.get("dv") for e in t.manifest()["files"])


def test_cdc_rows_exact_for_append_and_dv_delete(spark, tmp_path):
    # Row-level CDC: appends emit exact inserts, DV deletes emit exact
    # per-row deletes (values included), compaction emits nothing.
    t = _mk(spark, tmp_path, n=100, parts=2)
    t.append(
        spark.range(101, 121).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )  # v1
    t.delete_where_dv(F.col("k") % 10 == 0)  # v2
    t.compact(target_files=1)  # v3: layout-only
    ch = t.read_changes_rows(0, 3)
    got = {
        (r["_change_type"], r["k"]) for r in ch.collect()
    }
    want = {("insert", k) for k in range(101, 121)} | {
        ("delete", k) for k in range(10, 121, 10)
    }
    assert got == want
    # the deleted rows carry their VALUES, not just identities
    vals = {r["k"]: r["v"] for r in ch.filter(
        F.col("_change_type") == "delete").collect()}
    assert vals[20] == 40
    # a compact-only window is empty, with a stable schema
    empty = t.read_changes_rows(2, 3)
    assert empty.count() == 0
    assert empty.columns[0] == "_change_type"
    # the second DV delete diffs against the first (sidecar delta)
    t.delete_where_dv(F.col("k") % 7 == 0)  # v4 (post-compact files)
    ks = sorted(r["k"] for r in t.read_changes_rows(3, 4).collect())
    assert ks == [k for k in range(1, 121) if k % 7 == 0 and k % 10 != 0]


def test_cdc_rows_cow_fallback_is_file_level(spark, tmp_path):
    # A copy-on-write MERGE reports at file granularity: rewritten
    # files' prior live rows as deletes + new files as inserts
    # (carryover pairs), never silently nothing.
    t = _mk(spark, tmp_path, n=100, parts=2)
    src = spark.createDataFrame([(5, 999)], "k long, v long")
    t.merge(src, "k")  # rewrites the file holding k=5
    ch = t.read_changes_rows(0, 1)
    by = {r["_change_type"]: r["n"] for r in ch.groupBy(
        "_change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by["delete"] >= 1 and by["insert"] >= 1
    # net effect must reconcile: live rows after = before (upsert hit)
    assert t.read().count() == 100
    new_v = {r.k: r.v for r in ch.filter(
        (F.col("_change_type") == "insert") & (F.col("k") == 5)
    ).collect()}
    assert new_v == {5: 999}


def test_update_dv_basic_time_travel_and_chaining(spark, tmp_path):
    # Merge-on-read UPDATE: old positions DV-deleted, updated copies
    # appended, original files untouched; time travel sees pre-update
    # values; a second update finds the rows in their NEW file.
    t = _mk(spark, tmp_path, n=100, parts=2)
    before = set(_data_files(t))
    v, marked, n = t.update_where_dv(
        F.col("k") % 10 == 0, {"v": F.col("v") + 1000}
    )
    assert (v, marked, n) == (1, 2, 10)
    assert before <= set(_data_files(t))  # nothing rewritten/removed
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 100 and got[10] == 1020 and got[7] == 14
    assert {r.k: r.v for r in t.read(0).collect()}[10] == 20
    v2, m2, n2 = t.update_where_dv(
        F.col("v") > 1000, {"v": F.col("v") - 1000}
    )
    assert (m2, n2) == (1, 10)  # all 10 now live in the one new file
    assert {r.k: r.v for r in t.read().collect()}[10] == 20
    # unknown column refuses loudly
    with pytest.raises(ValueError):
        t.update_where_dv(F.col("k") == 1, {"nope": F.lit(0)})
    # no-match commits nothing
    assert t.update_where_dv(F.col("k") > 10_000, {"v": F.lit(0)}) == (
        v2, 0, 0,
    )


def test_update_dv_null_pred_rows_not_updated(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "tbl"), "k")
    df = spark.range(1, 11).select(
        F.col("id").alias("k"),
        F.when(F.col("id") <= 5, F.col("id")).alias("v"),
    )
    t.create(df.coalesce(1))
    t.update_where_dv(F.col("v") < 3, {"k": F.col("k") + 100})
    ks = {r.k for r in t.read().collect()}
    assert ks == {101, 102, 3, 4, 5, 6, 7, 8, 9, 10}


def test_update_dv_cdc_pre_and_post_image(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100, parts=2)
    t.update_where_dv(F.col("k") == 10, {"v": F.lit(-1)})
    ch = t.read_changes_rows(0, 1).collect()
    assert {(r["_change_type"], r["k"], r["v"]) for r in ch} == {
        ("delete", 10, 20), ("insert", 10, -1),
    }


def test_update_dv_rebases_across_interleaved_append(
    spark, tmp_path, monkeypatch
):
    t = _mk(spark, tmp_path)
    orig_commit = t._commit
    raced = {"done": False}

    def commit_and_race(version, op, files, txn_id=None, **kw):
        if op == "update_dv" and not raced["done"]:
            raced["done"] = True
            racer = TxnTable(spark, t.path, "k")
            racer.append(
                spark.createDataFrame([(2000, 0)], "k long, v long")
            )
        return orig_commit(version, op, files, txn_id=txn_id, **kw)

    monkeypatch.setattr(t, "_commit", commit_and_race)
    v, marked, n = t.update_where_dv(
        F.col("k") % 100 == 0, {"v": F.lit(7).cast("long")}
    )
    assert (marked, n) == (4, 10)
    got = {r.k: r.v for r in t.read().collect()}
    assert got[100] == 7 and got[2000] == 0, (
        "snapshot isolation: post-snapshot append not updated"
    )
    assert len(got) == 1001


def test_dv_delete_rebases_across_interleaved_append(
    spark, tmp_path, monkeypatch
):
    # Row-level deletes don't conflict with appends (Delta's matrix):
    # a DV delete that loses the version race to an append must rebase
    # — adopt the appended file, keep its own vector patch — and
    # snapshot isolation holds (appended rows are NOT deleted even if
    # they match the predicate).
    t = _mk(spark, tmp_path)
    orig_commit = t._commit
    raced = {"done": False}

    def commit_and_race(version, op, files, txn_id=None, **kw):
        if op == "delete_dv" and not raced["done"]:
            raced["done"] = True
            racer = TxnTable(spark, t.path, "k")
            racer.append(
                spark.createDataFrame([(2000, 0)], "k long, v long")
            )  # 2000 % 10 == 0: matches the pred, post-snapshot
        return orig_commit(version, op, files, txn_id=txn_id, **kw)

    monkeypatch.setattr(t, "_commit", commit_and_race)
    v, marked, deleted = t.delete_where_dv(F.col("k") % 10 == 0)
    assert (marked, deleted) == (4, 100)
    assert t.latest_version() == 2  # append v1 + rebased delete v2
    assert t.read().count() == 1000 - 100 + 1
    assert {r.k for r in t.read().filter(F.col("k") >= 1000).collect()} \
        == {2000}, "snapshot isolation: post-snapshot append survives"


def test_dv_delete_conflicts_with_overlapping_dv_delete(
    spark, tmp_path, monkeypatch
):
    # Two DV deletes racing on the SAME file must not silently undelete
    # each other: the loser's merged sidecar embeds the PRIOR vector,
    # so committing it over the winner's new vector would resurrect the
    # winner's deletions — the retry must refuse.
    t = _mk(spark, tmp_path)
    orig_commit = t._commit
    raced = {"done": False}

    def commit_and_race(version, op, files, txn_id=None, **kw):
        if op == "delete_dv" and not raced["done"]:
            raced["done"] = True
            racer = TxnTable(spark, t.path, "k")
            racer.delete_where_dv(F.col("k") == 7)  # same first file
        return orig_commit(version, op, files, txn_id=txn_id, **kw)

    monkeypatch.setattr(t, "_commit", commit_and_race)
    with pytest.raises(ConcurrentWriteError):
        t.delete_where_dv(F.col("k") % 10 == 0)
    # the WINNER's delete is intact
    assert t.read().filter(F.col("k") == 7).count() == 0
    assert t.read().count() == 999


def test_dv_update_conflicts_with_overlapping_dv_delete(
    spark, tmp_path, monkeypatch
):
    # The update_dv half of the same rule: its merged sidecar embeds
    # the hit file's PRIOR vector too, so a racer's DV delete on one of
    # its hit files must make the update refuse, not undelete the
    # racer's row or publish the update over it.
    t = _mk(spark, tmp_path)
    orig_commit = t._commit
    raced = {"done": False}

    def commit_and_race(version, op, files, txn_id=None, **kw):
        if op == "update_dv" and not raced["done"]:
            raced["done"] = True
            racer = TxnTable(spark, t.path, "k")
            racer.delete_where_dv(F.col("k") == 7)  # same first file
        return orig_commit(version, op, files, txn_id=txn_id, **kw)

    monkeypatch.setattr(t, "_commit", commit_and_race)
    with pytest.raises(ConcurrentWriteError):
        t.update_where_dv(
            F.col("k") % 10 == 0, {"v": F.lit(-1).cast("long")}
        )
    assert t.latest_version() == 1  # only the racer's delete landed
    assert t.read().filter(F.col("k") == 7).count() == 0
    assert t.read().count() == 999
    assert t.read().filter(F.col("v") == -1).count() == 0


def test_reorg_purge_rewrites_only_hot_files(spark, tmp_path):
    # PURGE materializes vectors on files past the deleted-ratio
    # threshold only; lightly-vectored files keep their (cheap) vector.
    # Predicates are derived from manifest stats so the sampled range
    # boundaries of repartitionByRange can't skew the per-file ratios.
    t = _mk(spark, tmp_path)  # 4 files over dense k=1..1000
    es = sorted(t.manifest()["files"], key=lambda e: e["min"])
    heavy_n = int(0.6 * es[0]["rows"])  # 60% of file 0, entirely inside it
    heavy = F.col("k").between(es[0]["min"], es[0]["min"] + heavy_n - 1)
    light = F.col("k").isin(es[2]["min"], es[2]["min"] + 1)  # 2 rows of file 2
    t.delete_where_dv(heavy | light)
    v, purged, carried = t.reorg_purge(max_deleted_ratio=0.5)
    assert purged == 1 and carried == 3  # only the 60%-deleted file
    still_dv = [e for e in t.manifest()["files"] if e.get("dv")]
    assert len(still_dv) == 1  # the lightly-vectored file keeps its DV
    assert t.read().count() == 1000 - heavy_n - 2
    assert t.read().filter(heavy | light).count() == 0
    # content-preserving: CDC over the purge commit is silent
    assert t.read_changes_rows(v - 1, v).count() == 0
    # no-op below threshold commits nothing
    n_entries = len(t.manifest()["files"])
    assert t.reorg_purge(max_deleted_ratio=0.9) == (v, 0, n_entries)


def test_gdpr_erasure_between_streaming_drains(spark, tmp_path):
    """The production erasure story end to end: a checkpointed stream
    ingests batch A into the table, a DV erasure deletes one user's
    rows, and the SAME stream resumes from its checkpoint and ingests
    batch B — which again contains that user (new activity after the
    erasure request). Required: A's erased rows stay erased, ALL of B
    lands (snapshot isolation — the erasure only covers its snapshot),
    the ingest commits rebase cleanly over the interleaved delete_dv
    commit, and row-level CDC over the whole range reports exactly
    A-inserts, the erasure's deletes, and B-inserts."""
    import glob as _glob
    import shutil as _shutil

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t = TxnTable(spark, str(tmp_path / "tbl"), "k")
    t.create(
        spark.range(0).select(
            F.col("id").alias("k"), F.col("id").alias("user")
        )
    )

    def stage(lo: int, hi: int, name: str) -> None:
        out = str(tmp_path / f"stage_{name}")
        spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("user")
        ).coalesce(1).write.mode("overwrite").parquet(out)
        (part,) = _glob.glob(f"{out}/part-*.parquet")
        _shutil.move(part, str(src / f"{name}.parquet"))
        _shutil.rmtree(out, ignore_errors=True)

    def drain() -> None:
        stream = spark.readStream.schema("k long, user long").parquet(
            str(src)
        )

        def sink(batch_df, batch_id: int) -> None:
            if not batch_df.isEmpty():
                t.append_once(batch_df, f"batch-{batch_id}")

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage(1, 101, "a")
    drain()
    v_del, marked, erased = t.delete_where_dv(F.col("user") == 3)
    assert erased == 20
    stage(101, 201, "b")
    drain()  # resumes from checkpoint; append rebases over delete_dv

    live = t.read()
    assert live.count() == 200 - 20
    # user 3's batch-A rows erased; batch-B rows (post-erasure) present
    u3 = sorted(r.k for r in live.filter(F.col("user") == 3).collect())
    assert u3 == [k for k in range(101, 201) if k % 5 == 3]
    # CDC over the whole range is exact
    ch = t.read_changes_rows(0, t.latest_version())
    ins = [r.k for r in ch.filter(F.col("_change_type") == "insert").collect()]
    dels = sorted(
        r.k for r in ch.filter(F.col("_change_type") == "delete").collect()
    )
    assert sorted(ins) == list(range(1, 201))
    assert dels == [k for k in range(1, 101) if k % 5 == 3]


def test_dv_merge_conflict_matrix_sees_interleaved_dv_delete(
    spark, tmp_path, monkeypatch
):
    # An interleaved DV delete keeps every touched PATH identical but
    # changes live content; the merge retry must refuse, not adopt.
    t = _mk(spark, tmp_path)
    src = spark.createDataFrame([(5, 999)], "k long, v long")
    orig_stage = t._stage_files
    raced = {"done": False}

    def stage_and_race(df, version):
        out = orig_stage(df, version)
        if not raced["done"]:
            raced["done"] = True
            racer = TxnTable(spark, t.path, "k")
            racer.delete_where_dv(F.col("k") == 7)  # same key-range file
        return out

    monkeypatch.setattr(t, "_stage_files", stage_and_race)
    with pytest.raises(ConcurrentWriteError):
        t.merge(src, "k")


@pytest.mark.parametrize("name", ENCODED_DIRS)
def test_dv_ops_under_encoded_table_path(spark, tmp_path, name):
    t = _mk(spark, tmp_path / name, n=100, parts=2)
    assert t.delete_where_dv(F.col("k") % 10 == 0)[1:] == (2, 10)
    assert t.read().count() == 90
    assert t.update_where_dv(F.col("k") <= 5, {"v": F.lit(-1)})[1:] == (1, 5)
    got = {r.k: r.v for r in t.read().collect()}
    want = {k: -1 if k <= 5 else 2 * k for k in range(1, 101) if k % 10}
    assert got == want
    assert t.delete_where(F.col("k") > 95)[1] == 1
    t.compact(target_files=1)
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {k: v for k, v in want.items() if k <= 95}


@pytest.mark.parametrize("name", ENCODED_DIRS)
def test_dv_table_copied_to_encoded_path_keeps_deletes(spark, tmp_path, name):
    t = _mk(spark, tmp_path, n=100, parts=2)
    t.delete_where_dv(F.col("k") % 10 == 0)
    dst = tmp_path / name / "copy"
    shutil.copytree(t.path, dst)
    got = sorted(r.k for r in TxnTable(spark, str(dst), "k").read().collect())
    assert got == [k for k in range(1, 101) if k % 10]


def test_dv_fresh_refuses_a_file_the_manifest_does_not_name(spark, tmp_path):
    import pyarrow as pa

    t = _mk(spark, tmp_path, n=10, parts=1)
    hits = pa.table({"__fp": ["file:/elsewhere/part-0.parquet"], "__ri": [0]})
    with pytest.raises(RuntimeError, match="does not name"):
        t._dv_fresh(t.manifest(), hits)
