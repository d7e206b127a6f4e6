"""A minimal ACID table format on plain parquet — Delta/Iceberg's core
protocol in miniature, with zero dependencies beyond the stdlib.

The sandbox has no Delta/Iceberg jars, so `etl_upsert`/`etl_cdc_apply`
emulate MERGE semantics by rewriting whole outputs. This module supplies
the missing piece those ops point at: a **transaction log** that makes
writes atomic, versioned, and *incremental* — the difference at 100 TB
between "MERGE rewrites the table" and "MERGE rewrites the 0.1% of
files that can contain the touched keys".

Protocol (the load-bearing subset of Delta's):

- A table is a directory: ``data/`` holds immutable parquet files,
  ``_txn_log/`` holds one JSON manifest per version (``v0000000012.json``).
- A manifest lists the table's files BY REFERENCE with per-file
  ``(rows, min, max)`` stats on one declared stats column. Commits never
  mutate data files — they add files and drop references. On disk,
  every ``snapshot_interval``-th version stores the FULL file list;
  versions between store only the commit's (add, remove) DELTA vs
  version-1 — O(changed) JSON per commit instead of O(files), the
  action-log half of Delta's checkpoint design (a 10M-file table
  would otherwise write ~1 GB of manifest per commit). ``manifest()``
  reconstructs any version from the nearest snapshot.
- A commit writes the manifest to a WRITER-UNIQUE temp name
  (``v{N}.json.{uuid}.tmp``) and ``os.link``s it to ``v{N}.json`` —
  a true put-if-absent: ``link`` fails with EEXIST if the version was
  committed in the meantime (unlike ``rename``, which silently replaces
  its destination), so a lost race always surfaces as
  ``ConcurrentWriteError`` and can never shadow the winner's manifest:
  optimistic concurrency, lose-and-retry, exactly Delta's model (on S3
  a real deployment swaps the link for a conditional put).
- Readers resolve the latest (or any historical) manifest and read
  exactly its file list — snapshot isolation and time travel for free;
  a concurrent writer can never tear a read.

Concurrency (Delta's conflict matrix, in one loop: ``_commit_retrying``).
A writer pins its version from the manifest it read; after a lost race
it re-reads the latest manifest and compares the entries it READ
(path plus DV sidecar, so a racer's delete on a kept path still counts
as a change). ``append`` read nothing: it rebases, committing the same
staged files on top of the new latest. ``compact``, ``compact_small``
and ``reorg_purge`` read their input files, ``merge`` the files in its
key range, ``delete_where_dv`` and ``update_where_dv`` their hit files
(by DV key): unchanged, they rebuild their file list on the new latest
and adopt the racers' other files by reference; changed, they refuse
with ``ConcurrentWriteError``, because their staged rows or sidecars
describe a stale view. A ``ConcurrentSchemaError`` (a racer registered
a conflicting column type) and a column-map extension the racer made
unallocatable refuse too: the same staged bytes cannot clear them.
``append_once`` keeps its own loop (it re-pins before each token scan
and re-stages on those metadata races); ``create``, ``delete_where``,
``rename_column``, ``drop_column`` and ``restore`` make one attempt.

Copy-on-write maintenance (MERGE / DELETE) prunes at the FILE level:
only files whose ``[min, max]`` stats range intersects the incoming
key range are rewritten; every other file is carried into the new
version by reference. The stats ride in the manifest (metadata), so
pruning costs a driver-side list scan — never a data scan.

Column mapping (``rename_column`` / ``drop_column``) makes schema
changes zero-rewrite: physical column names freeze at first write, the
manifest's ``columns`` map ({logical: physical}) is the logical schema,
and dropped physical slots are retired forever (``retired_columns``).
Translation happens only at the public seams; stats, pruning, and DV
machinery run on the frozen physical names.

Merge-on-read DELETE (``delete_where_dv``) skips even that rewrite:
deleted rows are recorded in a parquet DELETION-VECTOR sidecar keyed by
``(file key, parquet row ordinal)``; the hit files' manifest entries
point at it (``entry["dv"]``), reads apply it as one broadcast
anti-join, and the next compaction/MERGE rewrite materializes it away.
The file key is pinned at the first DV delete and survives clone
rebasing; VACUUM/RESTORE treat referenced sidecars as live.

Schema metadata (round 11): each manifest carries TWO registries —
``schema``, the MONOTONIC column-type record (physical name → type,
grows forever; the durability guard against a mistyped write poisoning
bytes already in the table) and ``read_schema``, the ordered (name,
type) list that IS the snapshot's scan schema. Every read pins its
schema from the manifest (``_pinned_read_schema``) exactly as Delta
reads schema from the log: planning opens ZERO parquet footers, so a
10M-file table plans as fast as a 10-file one. Restore rolls
``read_schema`` back to its target's (metadata rollback); the type
registry deliberately does not roll back (old bytes stay reachable via
time travel). Pre-registry manifests fall back to a mergeSchema footer
union and are backfilled — one O(files) driver metadata pass — at
their first post-upgrade commit.

Scale notes: every driver-side structure is metadata-bounded (one list
entry per file, one JSON per version). Data movement is Spark jobs over
only the touched files. Manifests are O(files) — the same growth class
Delta handles with checkpoints; at this repo's scale plain JSON per
version suffices and keeps the protocol auditable.
"""

from __future__ import annotations

import json
import os
import shutil
import unicodedata
from typing import Any, Optional
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first — retry on latest."""


class ConcurrentSchemaError(ConcurrentWriteError):
    """A racer registered a column type after this writer's snapshot
    that contradicts what this writer staged. Unlike the ``ValueError``
    the type fold raises for pre-stage drift (a caller typing mistake,
    fixable by casting), this is a LOST METADATA RACE: the writer's
    staging was consistent with everything its pinned snapshot knew, so
    the remedy is re-staging against the current snapshot — the same
    contract as the rest of Delta's conflict matrix (round-10 ADVICE)."""


class CheckViolation(ValueError):
    """An incoming batch violates the table's CHECK constraint."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_txn_log")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"v{version:010d}.json")


def _ckpt_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"ckpt-v{version:010d}.json")


def _read_sidecar(path: str, cols=("path", "row_index")):
    """Read a DV sidecar (file or staged directory) driver-side as an
    Arrow table. Sidecars are O(matches) KB–MB by contract, so this is
    metadata-class I/O — pyarrow ignores ``_SUCCESS``/dot files in a
    staged directory by default."""
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=list(cols))


def _value_counts(tbl, col: str) -> dict:
    """{value: count} of ``tbl[col]`` — vectorized, no Python loop
    over rows (the loop is over DISTINCT values = hit files)."""
    vc = tbl.column(col).value_counts()
    return {
        vc.field("values")[i].as_py(): vc.field("counts")[i].as_py()
        for i in range(len(vc))
    }


def _write_sidecar(
    root: str, dv_rel: str, fresh, prior_paths: list[str], hit: set
) -> None:
    """Publish the merged DV sidecar at ``root/dv_rel``: ``fresh``
    (Arrow table, columns path/row_index) plus the rows of
    ``prior_paths`` sidecars scoped to the ``hit`` DV keys — one
    parquet file, written driver-side (KB–MB by contract)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # Normalize to the sidecar file schema: ``fresh`` may arrive from a
    # parquet read-back (nullable fields) or straight from
    # DataFrame.toArrow (Spark-derived nullability) — pin one schema so
    # the prior-sidecar casts below never depend on the caller's path.
    fresh = fresh.cast(
        pa.schema([pa.field("path", pa.string()), pa.field("row_index", pa.int64())])
    )
    parts = [fresh]
    for p in prior_paths:
        t = _read_sidecar(p)
        t = t.filter(
            pc.is_in(
                t.column("path"),
                value_set=pa.array(sorted(hit), type=pa.string()),
            )
        )
        parts.append(t.cast(fresh.schema))
    pq.write_table(pa.concat_tables(parts), os.path.join(root, dv_rel))


#: ASCII characters ``java.net.URI`` leaves unquoted in a path.
_URI_PATH_SAFE = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    "-_.!~*'()" ":@&=+$," ";/"
)


def _uri_path(path: str) -> str:
    """``path`` quoted as Hadoop's ``Path.toUri()`` quotes it (the
    multi-argument ``java.net.URI`` constructor): ASCII outside
    ``_URI_PATH_SAFE`` (``%`` and space included) and non-ASCII space
    or control characters become UTF-8 ``%XX``; other non-ASCII
    characters stay as they are. This is how ``_metadata.file_path``
    spells a local file after its ``file:`` scheme."""
    out = []
    for ch in path:
        if ch in _URI_PATH_SAFE or (
            ch > "\x9f" and unicodedata.category(ch) not in ("Zs", "Zl", "Zp")
        ):
            out.append(ch)
        else:
            out.append("".join(f"%{b:02X}" for b in ch.encode("utf-8")))
    return "".join(out)


def _read_parquet(reader, paths: list[str]) -> DataFrame:
    """``reader.parquet`` over ``paths``, read literally: the one place
    table paths reach Spark. Spark expands any path holding one of
    ``{}[]*?\\`` as a Hadoop glob (a table under ``t[u]`` would read
    ``tu``), so each of them is backslash-escaped."""
    return reader.parquet(*[
        "".join("\\" + ch if ch in "{}[]*?\\" else ch for ch in p)
        for p in paths
    ])


class TxnTable:
    """Handle to a transaction-logged parquet table.

    ``stats_col`` is the single column whose per-file min/max ride in
    the manifest and drive copy-on-write file pruning — use the MERGE/
    DELETE key (the clustering column, in table-format terms).
    """

    #: Write a txn-log checkpoint every N commits (Delta's device, one
    #: concern only: the CHECKPOINT carries the set of txn_ids seen in
    #: manifests <= its version, so ``append_once``'s duplicate scan
    #: reads one checkpoint + the log TAIL instead of every manifest —
    #: O(1) amortized where the naive scan is O(versions) PER COMMIT,
    #: i.e. O(n^2) cumulative over a streaming sink's micro-batches.
    #: Manifests themselves are already self-contained (each lists the
    #: full file set), so reads need no checkpoint; only the token scan
    #: grows with history.
    checkpoint_interval: int = 20

    #: Write a FULL file-list manifest every N versions; the versions
    #: between them store only the commit's file DELTA (add/remove vs
    #: version-1) plus full metadata. This is the other half of
    #: Delta's log design (action deltas + periodic checkpoints): a
    #: full manifest is O(files) JSON — at a 10M-file inventory ~1 GB
    #: PER COMMIT if every version wrote one — while a typical commit
    #: touches O(changed) files. Readers reconstruct any version from
    #: the nearest snapshot at ≤ interval-1 delta applications, each
    #: O(changed) (see ``manifest``).
    snapshot_interval: int = 10

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        stats_col: str,
        checkpoint_interval: Optional[int] = None,
        snapshot_interval: Optional[int] = None,
    ):
        self.spark = spark
        self.path = path
        self.stats_col = stats_col
        if checkpoint_interval is not None:
            self.checkpoint_interval = checkpoint_interval
        if snapshot_interval is not None:
            self.snapshot_interval = snapshot_interval
        #: version -> reconstructed manifest (delta versions only:
        #: manifests are immutable once linked, so the cache can never
        #: go stale; full manifests are returned straight from disk so
        #: tests simulating legacy logs may rewrite them in place).
        self._man_cache: dict[int, dict] = {}

    # -- log primitives ----------------------------------------------------

    def versions(self) -> list[int]:
        d = _log_dir(self.path)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(n[1:-5]) for n in os.listdir(d)
            if n.startswith("v") and n.endswith(".json")
        )

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no table at {self.path}")
        return vs[-1]

    def _raw_manifest(self, version: int) -> dict[str, Any]:
        """The manifest file's literal JSON — a full snapshot (has
        ``files``) or a delta record (``delta_base``/``add``/
        ``remove`` + full metadata). Metadata-only consumers (txn-id
        scans, op strings) read this to avoid reconstruction."""
        with open(_manifest_path(self.path, version)) as f:
            return json.load(f)

    def manifest(self, version: Optional[int] = None) -> dict[str, Any]:
        """The manifest of ``version`` (default latest) in its PUBLIC
        shape: metadata keys + the full ``files`` list. Snapshot
        versions return verbatim; delta versions reconstruct by
        walking back to the nearest snapshot (≤ snapshot_interval-1
        hops, each O(changed) — the log-reading cost Delta pays
        between checkpoints) and are memoized per instance (manifests
        are immutable, so the cache cannot go stale). File order is
        canonical-by-reconstruction: base order with removed paths
        dropped, adds appended — identical across instances.

        Aliasing contract (round-11 ADVICE #1): the returned ``files``
        LIST and each entry DICT are caller-owned copies — mutating
        them cannot corrupt the memo or reconstructions of other
        versions (cache chains share entry objects internally).
        Entry VALUES (e.g. the nested ``col_stats`` dict) remain
        shared and are immutable by contract: code that patches an
        entry (DV attach, stats refresh) must build a new nested dict,
        never mutate one in place — every current writer does.
        Cost note: the per-entry dict copy is a constant factor on the
        ALREADY-O(files) reconstruction/list-copy this method performs
        (snapshot versions re-parse JSON per call and take no copy at
        all); if a profile ever shows it, the cheaper equivalent is
        freezing entries (MappingProxyType) at cache-insert time."""
        v = self.latest_version() if version is None else version
        raw = self._raw_manifest(v)
        if "files" in raw:
            return raw
        cached = self._man_cache.get(v)
        if cached is not None:
            return {**cached, "files": [dict(e) for e in cached["files"]]}
        chain = [raw]
        base_v = raw["delta_base"]
        base_files: Optional[list] = None
        while True:
            c = self._man_cache.get(base_v)
            if c is not None:
                base_files = c["files"]
                break
            j = self._raw_manifest(base_v)
            if "files" in j:
                base_files = j["files"]
                break
            chain.append(j)
            base_v = j["delta_base"]
        files = list(base_files)
        for d in reversed(chain):
            rm = set(d["remove"])
            files = [e for e in files if e["path"] not in rm] + d["add"]
        out = {
            k: x for k, x in raw.items()
            if k not in ("delta_base", "add", "remove")
        }
        out["files"] = files
        self._man_cache[v] = out
        if len(self._man_cache) > 32:
            self._man_cache.pop(next(iter(self._man_cache)))
        return {**out, "files": [dict(e) for e in files]}

    #: Sentinel: _commit carries the latest manifest's column map
    #: forward unless the caller passes an explicit map (or None).
    _CARRY = object()

    def _commit(
        self,
        version: int,
        op: str,
        files: list[dict],
        txn_id: Optional[str] = None,
        columns: Any = _CARRY,
        retired: Any = _CARRY,
        schema: Any = _CARRY,
        read_schema: Any = _CARRY,
        base_schema: Optional[dict] = None,
    ) -> None:
        """Atomically publish ``files`` as table version ``version``.

        True put-if-absent: the manifest is written to a WRITER-UNIQUE
        temp name, then ``os.link``ed into place — ``link`` (unlike
        ``rename``, which silently REPLACES an existing destination on
        POSIX) fails with EEXIST if the version was committed in the
        meantime, so a lost race always surfaces as
        ``ConcurrentWriteError`` and can never shadow the winner's
        manifest. The early existence check is only a fast path; the
        link is the serialization point. On S3 the link becomes a
        conditional put (If-None-Match), same contract."""
        os.makedirs(_log_dir(self.path), exist_ok=True)
        final = _manifest_path(self.path, version)
        if os.path.exists(final):
            raise ConcurrentWriteError(
                f"version {version} already committed at {self.path}"
            )
        # The latest manifest is read unconditionally: the column map /
        # retired set carry below needs it under _CARRY, and the column
        # TYPE registry carries on EVERY commit. TOCTOU-safe either
        # way: if anything commits between this read and the link
        # below, the link fails (version taken) and the retrying caller
        # re-enters here.
        try:
            latest = self.manifest()
        except FileNotFoundError:
            latest = {}
        # Fold freshly-staged entries' column types (attached by
        # _stage_files, PHYSICAL names) into the table-level type
        # registry, then strip the per-entry key — the registry is the
        # durable record; per-file copies would bloat a 1M-file
        # manifest. Physical slots are never reused (_fresh_phys skips
        # live + retired names), so the registry grows monotonically
        # and a type CONFLICT always means a writer staged a column
        # under a type that contradicts bytes already in the table —
        # committing it would poison every later mergeSchema read with
        # CANNOT_MERGE_SCHEMAS (found by the round-10 model-lifecycle
        # test: an UPDATE whose literal was INT against a BIGINT
        # column). Refuse THIS writer loudly instead; this is the one
        # choke point every staging path (append / merge / DV update /
        # compaction / restore-rollback rewrite) passes through, and it
        # also covers two racers extending the SAME new column under
        # DIFFERENT types — the loser's fold conflicts and refuses.
        read_schema_arg = read_schema
        if schema is TxnTable._CARRY:
            schema = latest.get("schema")
        if read_schema is TxnTable._CARRY:
            read_schema = latest.get("read_schema")
        carried_files = latest.get("files")
        backfilled: set[str] = set()
        # Failed-backfill memo (round-11 ADVICE #3): when the one-time
        # footer pass concludes "no sound pin exists" (an unreadable
        # footer, or two files carrying one column under different
        # types), record a durable tombstone so subsequent commits do
        # NOT re-pay the O(files) driver-side metadata pass — at the
        # 10M-file scale this targets, a single bad file must cost one
        # scan, not one per commit forever. The tombstone is the
        # OFFENDING FILE'S relpath where one is known (round-12
        # review): it holds only while that file is live, so a
        # compaction/delete that rewrites the bad file re-enables the
        # backfill and the table regains pinned-read planning without
        # manual intervention. A bare True (registry-divergence cases,
        # where no single file is at fault) is permanent until an
        # explicit read_schema= caller (restore/clone/rollback/repin)
        # re-establishes the pin and clears the memo.
        _tomb = latest.get("rs_unpinnable")
        if read_schema_arg is not TxnTable._CARRY:
            rs_unpinnable: Any = False
        elif isinstance(_tomb, str):
            rs_unpinnable = (
                _tomb
                if any(
                    e["path"] == _tomb for e in (carried_files or ())
                )
                else False
            )
        else:
            rs_unpinnable = bool(_tomb)
        if (
            carried_files
            and read_schema is None
            and not rs_unpinnable
            and read_schema_arg is TxnTable._CARRY
        ):
            # Legacy upgrade (round-10 ADVICE #1): a table created
            # before the registries existed backfills them from its
            # LIVE files' parquet footers — one O(files) driver
            # metadata pass, run once at the first post-upgrade commit
            # — so an incoming mistyped write is checked against the
            # footer truth instead of first-claiming the wrong type
            # (and additionally poisoning the registry). Also covers
            # tables that have the type registry but predate the
            # pinned read schema. Explicit read_schema= callers
            # (restore/clone/rollback) skip this — they know their
            # snapshot's schema source better than latest's files do.
            b_reg, b_rs, b_bad, _ = self._footer_schema_backfill(
                carried_files
            )
            if schema is None and b_reg is not None:
                schema = b_reg
                backfilled.update(b_reg)
            elif schema and b_rs is not None:
                # The table already has a type registry but no pin
                # (round-11 ADVICE #2): the footer-derived pin must
                # agree with the registry before being adopted — a
                # footer/registry divergence (e.g. an arrow-roundtrip
                # type the registry records differently) would pin a
                # scan type the enforcement registry contradicts.
                # Mismatch → no pin (footer-union fallback, always
                # correct) + tombstone below; names the registry has
                # never seen are fine (registry grows monotonically
                # from staged types, footers may know legacy columns
                # first).
                if any(
                    schema.get(n) not in (None, t) for n, t in b_rs
                ):
                    b_rs = None
            read_schema = b_rs
            if b_rs is None:
                # Path-scoped tombstone where a single file is at
                # fault; permanent (True) for a LEGACY registry
                # divergence — here the registry disagrees with the
                # footer CONSENSUS (the live files typically agree
                # with each other), so no single file can be blamed
                # and a path-scoped memo would just re-pay the
                # O(files) pass after every compaction (contrast the
                # untyped-fresh branch below, where the contradiction
                # demonstrably arrived with one fresh file); NO
                # tombstone for an environment failure (pyarrow
                # missing: b_bad is None AND b_reg is None) — retry
                # next commit instead of durably degrading the table.
                if b_bad is not None:
                    rs_unpinnable = b_bad
                elif b_reg is not None:
                    rs_unpinnable = True
        schema = dict(schema or {})
        if read_schema is not None:
            rs: Optional[list[list]] = [list(x) for x in read_schema]
        elif not carried_files and read_schema_arg is TxnTable._CARRY:
            # Fresh table (create / clone target at v0): the pin is
            # built entirely from this commit's staged types below.
            rs = []
        else:
            rs = None  # unknown provenance: reads fall back to footers
        rs_known = {n for n, _ in rs} if rs is not None else set()
        latest_paths = {e["path"] for e in (carried_files or ())}
        conflicts, races = [], []
        out_files: list[dict] = []
        untyped_fresh: list[dict] = []
        for e in files:
            et = e.get("types")
            if et:
                for c, ty in et.items():
                    prev = schema.get(c)
                    if prev is None:
                        schema[c] = ty
                    elif prev != ty:
                        # Race vs drift (round-10 ADVICE #2): if the
                        # writer's pinned snapshot (base_schema) did
                        # NOT carry this registration, it arrived from
                        # a manifest newer than the snapshot — a lost
                        # metadata race, not a caller typing mistake.
                        # Backfilled registrations are never races:
                        # their bytes predate every snapshot.
                        if (
                            base_schema is not None
                            and c not in backfilled
                            and base_schema.get(c) != prev
                        ):
                            races.append((c, prev, ty))
                        else:
                            conflicts.append((c, prev, ty))
                    if rs is not None and c not in rs_known:
                        rs.append([c, ty])
                        rs_known.add(c)
            if "types" in e:
                # Strip unconditionally — an empty dict (zero-data-
                # column frame) must not leak a stray key into the
                # durable manifest either (round-10 ADVICE #5).
                e = {k: x for k, x in e.items() if k != "types"}
            elif e.get("path") not in latest_paths:
                untyped_fresh.append(e)
            out_files.append(e)
        files = out_files
        if races:
            raise ConcurrentSchemaError(
                f"column type registration(s) lost a race: a commit "
                f"after this writer's snapshot registered (column, "
                f"table type, staged type): {races}; re-stage against "
                f"the current snapshot"
            )
        if conflicts:
            raise ValueError(
                f"refusing to publish staged file(s) whose column type "
                f"contradicts the table schema (column, table type, "
                f"staged type): {conflicts}; cast the incoming data "
                f"to the table's types"
            )
        if (
            untyped_fresh
            and rs is not None
            and read_schema_arg is TxnTable._CARRY
        ):
            # Fresh entries with no staged-type provenance (the stress
            # suites' non-DataFrame pyarrow stand-in staging): learn
            # their columns from their footers so the pinned read
            # schema stays COMPLETE — a pin missing a live column
            # would silently hide it from every read. Unreadable or
            # contradicting footers drop the pin for this manifest
            # (mergeSchema fallback — always correct) rather than
            # guessing.
            b_reg, b_rs, b_bad, b_prov = self._footer_schema_backfill(
                untyped_fresh
            )
            contradicted: Optional[str] = None
            if b_reg is None:
                rs = None
            else:
                for c, ty in b_rs:
                    prev = schema.get(c)
                    if prev is None:
                        schema[c] = ty
                    elif prev != ty:
                        # The contradiction is between THIS fresh
                        # file's footer and the manifest registry —
                        # scope the tombstone to the contributing
                        # entry (round-12 ADVICE #4) so compacting it
                        # away re-enables the pin, exactly like the
                        # unreadable-footer case.
                        rs = None
                        contradicted = b_prov.get(c)
                        break
                    if rs is not None and c not in rs_known:
                        rs.append([c, ty])
                        rs_known.add(c)
            if rs is None:
                # Same memo policy as the legacy branch: path-scoped
                # when one file is at fault (unreadable footer OR a
                # fresh footer contradicting the registry), permanent
                # True only when attribution is genuinely ambiguous,
                # none for env failures.
                if b_bad is not None:
                    rs_unpinnable = b_bad
                elif contradicted is not None:
                    rs_unpinnable = contradicted
                elif b_reg is not None:
                    rs_unpinnable = True
        m = {
            "version": version,
            "op": op,
            "stats_col": self.stats_col,
            "files": files,
        }
        if schema:
            m["schema"] = schema
        if rs:
            # The ordered physical READ schema of THIS snapshot — what
            # lets every read plan with an explicit schema instead of a
            # footer union (see _pinned_read_schema). Distinct from the
            # "schema" registry above: the registry is the MONOTONIC
            # type-enforcement record (retired slots and all); this key
            # is exactly the columns a reader of this version presents,
            # and restore rolls it back to its target's.
            m["read_schema"] = rs
        elif rs_unpinnable:
            # True (permanent) or the offending file's relpath
            # (auto-clears once that file leaves the live set).
            m["rs_unpinnable"] = rs_unpinnable
        if columns is TxnTable._CARRY or retired is TxnTable._CARRY:
            # Carry the column map (and the retired-physical-name set)
            # forward so a rename/drop survives every later commit.
            if columns is TxnTable._CARRY:
                columns = latest.get("columns")
            if retired is TxnTable._CARRY:
                retired = latest.get("retired_columns")
        if columns is not None:
            # Publish-time invariant (defense in depth behind
            # _rebased_map_extension): a map with two logical columns
            # sharing a physical slot, or a live physical in the
            # retired set, poisons every later read/stage with raw
            # AnalysisExceptions — fail THIS writer loudly instead.
            # (Map ∩ retired overlap is NOT checked here: a restore to
            # a pre-drop version legitimately resurrects a retired
            # slot's logical column; only the duplicate-physical state
            # is unconditionally poisonous.)
            phys = list(columns.values())
            if len(set(phys)) != len(phys):
                raise ValueError(
                    f"refusing to publish a column map with duplicate "
                    f"physical names: {columns}"
                )
            m["columns"] = columns
        if retired:
            m["retired_columns"] = retired
        if txn_id is not None:
            m["txn_id"] = txn_id
        # Delta-encode the file list when it pays (Delta's action-log
        # half of the checkpoint design): off-snapshot versions store
        # only (add entries, remove paths) vs version-1 — O(changed)
        # JSON instead of O(files) — with metadata always full. Safe
        # because the log is GAPLESS and the link is the serialization
        # point: a successful link at ``version`` proves the ``latest``
        # this diff was computed against IS version-1 (anything newer
        # would have claimed the name and failed the link), so the
        # recorded base can never be wrong on a published manifest.
        body = m
        if (
            version > 0
            and self.snapshot_interval > 1
            and version % self.snapshot_interval
            and latest.get("version") == version - 1
            and isinstance(latest.get("files"), list)
        ):
            base_by_path = {e["path"]: e for e in latest["files"]}
            new_paths = {e["path"] for e in files}
            add = [e for e in files if base_by_path.get(e["path"]) != e]
            remove = sorted(
                [p for p in base_by_path if p not in new_paths]
                + [e["path"] for e in add if e["path"] in base_by_path]
            )
            if len(add) + len(remove) < len(files):
                body = {k: x for k, x in m.items() if k != "files"}
                body["delta_base"] = version - 1
                body["add"] = add
                body["remove"] = remove
        import uuid as _uuid

        tmp = f"{final}.{_uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(body, f, indent=1, sort_keys=True)
            os.link(tmp, final)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version {version} already committed at {self.path}"
            ) from None
        finally:
            # Covers the serialization-error path too (a non-JSON stat
            # value must not leave a partial .tmp in the log). A writer
            # killed between write and link still leaks its .tmp;
            # vacuum sweeps those once they are unambiguously stale.
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        if (
            self.checkpoint_interval > 0
            and version > 0
            and version % self.checkpoint_interval == 0
        ):
            # Best-effort: a checkpoint is an OPTIMIZATION over facts the
            # manifests already hold — its failure must never fail the
            # commit that just landed, and a racer writing the same
            # checkpoint is harmless (identical content, link loses).
            try:
                self._write_checkpoint(version)
            except OSError:
                pass

    # -- txn-log checkpoints -----------------------------------------------

    def _latest_checkpoint(self) -> Optional[dict]:
        d = _log_dir(self.path)
        if not os.path.isdir(d):
            return None
        cks = sorted(
            n for n in os.listdir(d)
            if n.startswith("ckpt-v") and n.endswith(".json")
        )
        if not cks:
            return None
        with open(os.path.join(d, cks[-1])) as f:
            return json.load(f)

    def _write_checkpoint(self, version: int) -> None:
        """Write ``ckpt-v{version}.json`` carrying every txn_id in
        manifests 0..version, building incrementally from the previous
        checkpoint (walk only the tail). Same tmp+link atomicity as
        commits; EEXIST means a racer already wrote it — identical
        content by construction, so losing is fine."""
        import uuid as _uuid

        prev = self._latest_checkpoint()
        tokens: set[str] = set()
        start = 0
        if prev is not None and prev["version"] <= version:
            tokens = set(prev["txn_ids"])
            start = prev["version"] + 1
        for v in self.versions():
            if start <= v <= version:
                # Raw read: txn_id is metadata, present verbatim in
                # delta manifests — no file-list reconstruction.
                tok = self._raw_manifest(v).get("txn_id")
                if tok is not None:
                    tokens.add(tok)
        final = _ckpt_path(self.path, version)
        if os.path.exists(final):
            return
        tmp = f"{final}.{_uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(
                    {"version": version, "txn_ids": sorted(tokens)}, f
                )
            os.link(tmp, final)
        except FileExistsError:
            pass
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def _txn_ids_before(self, upto: int) -> set[str]:
        """txn_ids of every manifest with version < ``upto`` — via the
        latest checkpoint plus a tail scan, so the cost is O(interval)
        instead of O(versions). A checkpoint AHEAD of ``upto`` (a racer
        committed and checkpointed past our pin) only ADDS txn_ids from
        versions >= upto, which is conservative for duplicate detection:
        if our token appears there, a racer landed it and skipping is
        correct."""
        ck = self._latest_checkpoint()
        seen: set[str] = set()
        start = 0
        if ck is not None:
            seen = set(ck["txn_ids"])
            start = ck["version"] + 1
        for v in self.versions():
            if start <= v < upto:
                tok = self._raw_manifest(v).get("txn_id")
                if tok is not None:
                    seen.add(tok)
        return seen

    # -- file staging ------------------------------------------------------

    def _stage_files(
        self, df: DataFrame, version: int, stats_col: Optional[str] = None
    ) -> list[dict]:
        """Write ``df`` as new immutable parquet files; return their
        manifest entries (path + per-file stats on ``stats_col``).

        Stats come from the parquet FOOTERS of the files just written —
        row counts plus per-row-group min/max, exactly the information
        a table format records at commit time — read driver-side (a few
        KB per file, O(files) metadata I/O, no second Spark job over
        the data). Parquet string statistics may be truncated, so the
        footer path is gated to numeric stats columns with complete
        statistics; anything else falls back to one metadata-scale
        Spark aggregate over the staged files (the pre-round-7 path).

        The staging directory is WRITER-UNIQUE (version + random
        suffix): data files are immutable and referenced by path, so
        the commit's version number and the staging directory name are
        independent — two racing writers both stage safely, then only
        one wins the manifest link; the loser's orphaned files are
        invisible (no manifest references them) and are collected by a
        later ``vacuum``."""
        import uuid as _uuid

        # ``stats_col`` is the PHYSICAL stats column name when the
        # table carries a column map (df arrives here already renamed
        # to physical); default: the declared name (identity tables).
        stats_col = self.stats_col if stats_col is None else stats_col
        # NullType (VOID) columns never reach the data files: they
        # arise from ``_to_logical`` materializing NULL for a mapped
        # column no input file carries (a rewrite of pre-evolution
        # files), and a staged VOID parquet column poisons every later
        # footer merge (CANNOT_MERGE_SCHEMAS against the typed files).
        # Omitting the column is read-equivalent: the column map (or
        # unionByName) re-materializes NULL for files that lack it.
        from pyspark.sql.types import NullType

        void = [
            f.name for f in df.schema.fields
            if isinstance(f.dataType, NullType)
        ]
        if void:
            df = df.drop(*void)
        # Column types of the staged files, for _commit's table-level
        # type registry — free here (the frame's resolved schema; no
        # I/O), where reconstructing them later would cost a footer
        # read per file. Keyed by the names as staged (physical when a
        # column map routed through _to_physical above the call).
        types = {
            f.name: f.dataType.simpleString() for f in df.schema.fields
        }
        out = os.path.join(
            self.path, "data", f"v{version:010d}-{_uuid.uuid4().hex[:8]}"
        )
        df.write.mode("overwrite").parquet(out)
        entries = self._entries_from_footers(out, stats_col)
        if entries is not None:
            for e in entries:
                e["types"] = types
            return entries
        back = _read_parquet(self.spark.read, [out])
        rows = (
            back.groupBy(F.input_file_name().alias("f"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.min(stats_col).alias("lo"),
                F.max(stats_col).alias("hi"),
            )
            .collect()
        )
        return [
            {
                # input_file_name() yields a URI (file:/...,
                # percent-encoded) — decode before treating as a path.
                "path": os.path.relpath(
                    unquote(r["f"].removeprefix("file:")), self.path
                ),
                "rows": r["rows"],
                "min": r["lo"],
                "max": r["hi"],
                "types": types,
            }
            for r in sorted(rows, key=lambda r: r["f"])
        ]

    def _refuse_type_drift(self, df: DataFrame, man: dict) -> None:
        """Delta-parity schema enforcement for APPEND-shaped writes:
        an incoming column whose type differs from the table's
        registered type for that (physical) column refuses BEFORE
        staging — appending it would leave files whose footers cannot
        merge (CANNOT_MERGE_SCHEMAS on every later read). Delta refuses
        the same write at its schema check; MERGE and UPDATE instead
        CAST to the table type (also Delta's rule) before they reach
        this class's staging, so enforcement here only ever fires on a
        genuinely incompatible blind append. Columns the registry does
        not know (brand-new, or a pre-registry legacy table) pass —
        _commit's fold registers them. O(columns) dict compare; no
        I/O (the registry rides the manifest already in hand)."""
        fields = getattr(getattr(df, "schema", None), "fields", None)
        if fields is None:
            # Non-DataFrame inputs (the stress suites' pyarrow fast-
            # path stand-ins route around Spark staging) carry no
            # resolved schema; their writes register no types either,
            # so there is nothing to enforce.
            return
        from pyspark.sql.types import NullType

        sch = man.get("schema") or {}
        drift = [
            (f.name, sch[f.name], f.dataType.simpleString())
            for f in fields
            # A NullType (VOID) column never reaches the data files —
            # _stage_files drops it and reads re-materialize NULL — so
            # it cannot drift; refusing it here would reject a write
            # that was legal and read-equivalent before the registry.
            if f.name in sch
            and not isinstance(f.dataType, NullType)
            and sch[f.name] != f.dataType.simpleString()
        ]
        if drift:
            raise ValueError(
                f"append schema mismatch (column, table type, incoming "
                f"type): {drift}; cast the incoming frame to the "
                f"table's types"
            )

    def _entries_from_footers(
        self, out: str, stats_col: Optional[str] = None
    ) -> Optional[list[dict]]:
        """Manifest entries for every parquet file under ``out`` from
        footer metadata alone, or None if any file's ``stats_col``
        statistics are unusable (non-numeric type — parquet may
        truncate string min/max, which would corrupt pruning bounds —
        or missing/unreadable stats). Empty files are skipped, matching
        the aggregate path (no rows → no group)."""
        import glob as _glob

        try:
            import pyarrow.parquet as _pq
            import pyarrow.types as _pt
        except ImportError:
            return None
        stats_col = self.stats_col if stats_col is None else stats_col
        entries = []
        for f in sorted(_glob.glob(os.path.join(_glob.escape(out), "*.parquet"))):
            try:
                pf = _pq.ParquetFile(f)
                md = pf.metadata
                if md.num_rows == 0:
                    continue
                field = pf.schema_arrow.field(stats_col)
                if not (
                    _pt.is_integer(field.type)
                    or _pt.is_floating(field.type)
                ):
                    return None
                # Footers carry min/max for EVERY column at no extra
                # cost — record stats for all numeric columns (Delta
                # does the same with dataSkippingNumIndexedCols), so
                # MERGE/compaction can prune on any of them, not just
                # the declared clustering column.
                numeric = [
                    fld.name for fld in pf.schema_arrow
                    if _pt.is_integer(fld.type) or _pt.is_floating(fld.type)
                ]
                col_idx = {
                    md.row_group(0).column(i).path_in_schema: i
                    for i in range(md.num_columns)
                }
                col_stats: dict[str, list] = {}
                for name in numeric:
                    if name not in col_idx:
                        continue  # nested field; footer path skips it
                    lo = hi = None
                    ok = True
                    for g in range(md.num_row_groups):
                        col = md.row_group(g).column(col_idx[name])
                        if col.num_values == 0:
                            continue  # all-null row group has no stats
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            ok = False
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    if ok:
                        col_stats[name] = [lo, hi]
                if stats_col not in col_stats:
                    # nulls-only stats column: the aggregate path
                    # returns None bounds (conservatively touched);
                    # footers can't distinguish that from missing
                    # stats, so punt to the aggregate.
                    return None
                lo, hi = col_stats[stats_col]
                entries.append(
                    {
                        "path": os.path.relpath(f, self.path),
                        "rows": md.num_rows,
                        "min": lo,
                        "max": hi,
                        "col_stats": col_stats,
                    }
                )
            except (OSError, KeyError, StopIteration):
                return None
        return entries

    def _footer_schema_backfill(
        self, entries: list[dict]
    ) -> tuple[
        Optional[dict],
        Optional[list[list]],
        Optional[str],
        dict[str, str],
    ]:
        """(type registry, ordered read schema, offending path,
        column→contributing path) of ``entries`` read from their
        parquet FOOTERS — the one-time driver-side metadata pass that
        upgrades a pre-registry table (round-10 ADVICE #1) or learns a
        stand-in-staged file's columns. On failure returns
        (None, None, bad_path, prov): ``bad_path`` names the entry
        whose footer was unreadable or contradicted an earlier file's
        type — the tombstone is scoped to it, so the pin retries once
        that file leaves the live set (round-12 review). ``prov`` maps
        each learned column to the entry path that first registered it
        (round-12 ADVICE #4): when the CALLER's fold against the
        manifest registry later contradicts a column, it can scope the
        tombstone to that column's contributing file instead of
        permanently unpinning the table. A missing pyarrow returns
        (None, None, None, {}): an ENVIRONMENT failure must not
        durably tombstone a healthy table — the caller skips the memo
        and simply retries next commit."""
        prov: dict[str, str] = {}
        try:
            import pyarrow.parquet as _pq

            from pyspark.sql.pandas.types import from_arrow_type
        except ImportError:
            return None, None, None, prov
        reg: dict[str, str] = {}
        rs: list[list] = []
        for e in entries:
            try:
                sch = _pq.read_schema(
                    os.path.join(self.path, e["path"])
                )
                for fld in sch:
                    ty = from_arrow_type(fld.type).simpleString()
                    prev = reg.get(fld.name)
                    if prev is None:
                        reg[fld.name] = ty
                        rs.append([fld.name, ty])
                        prov[fld.name] = e["path"]
                    elif prev != ty:
                        return None, None, e["path"], prov
            except Exception:
                return None, None, e["path"], prov
        return reg, rs, None, prov

    def _pinned_read_schema(self, man: Optional[dict]):
        """The StructType pinned by ``man``'s ``read_schema``, or None
        when the manifest carries no pin (legacy) — the caller then
        falls back to the mergeSchema footer union. With a pin, read
        PLANNING is pure manifest metadata: zero parquet footers are
        opened to resolve the scan schema, which at a 10M-file
        inventory is the difference between instant planning and a
        driver-side metadata storm (Delta likewise reads its schema
        from the log, never from data files)."""
        rs = (man or {}).get("read_schema")
        if not rs:
            return None
        from pyspark.sql.types import StructType

        try:
            return StructType.fromDDL(
                ", ".join(f"`{n}` {t}" for n, t in rs)
            )
        except Exception:
            return None

    def _reader(self, man: Optional[dict]):
        """A DataFrameReader for ``man``'s snapshot: schema pinned
        from the manifest when available, mergeSchema footer union
        otherwise. ``man=None`` (staged-file probes, legacy) always
        takes the union path."""
        pinned = self._pinned_read_schema(man)
        if pinned is not None:
            return self.spark.read.schema(pinned)
        return self.spark.read.option("mergeSchema", "true")

    def _read_files(
        self,
        entries: list[dict],
        with_fp: bool = False,
        man: Optional[dict] = None,
    ) -> DataFrame:
        """Read the live rows of ``entries`` — the merge-on-read seam.

        Files without a deletion vector stream straight off the parquet
        scan; files WITH one (``entry["dv"]``) are scanned with their
        row identity (``_metadata.file_path`` / ``row_index``) and
        anti-joined against the broadcast union of their DV sidecars,
        so a delete that marked 50 rows in a 1 GB file costs a tiny
        sidecar at write time and one broadcast anti-join at read time
        instead of a full file rewrite (Delta/Iceberg deletion-vector
        semantics). Every rewrite path in this class reads through
        here, so compaction/MERGE materialize DVs automatically — the
        rewritten files carry no ``dv`` key.

        Schema resolution: ``man`` (the manifest these entries came
        from) pins the read schema from its ``read_schema`` metadata —
        files written before a column was added read it as NULL, same
        additive evolution mergeSchema gave, but the scan plans with
        ZERO footer reads. Without a pin (``man=None``: staged-file
        probes, pre-pin manifests) the mergeSchema footer union is the
        fallback.

        ``with_fp=True`` keeps each row's ``__fp`` (its file's
        ``_metadata.file_path`` URI), attached per scan branch BEFORE
        any union — ``input_file_name()`` cannot do this over the
        multi-source plan a DV'd snapshot reads as.
        """
        plain = [e for e in entries if not e.get("dv")]
        dvd = [e for e in entries if e.get("dv")]
        reader = self._reader(man)
        parts = []
        if plain:
            parts.append(
                _read_parquet(
                    reader, [os.path.join(self.path, e["path"]) for e in plain]
                ).select(
                    "*", F.col("_metadata.file_path").alias("__fp")
                )
            )
        if dvd:
            parts.append(self._live_scan(dvd, man).drop("__ri"))
        if not parts:
            raise ValueError("empty manifest entry list")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out if with_fp else out.drop("__fp")

    # -- column mapping (zero-rewrite RENAME/DROP COLUMN) -------------------
    #
    # Physical column names are FROZEN at first write; the manifest's
    # optional ``columns`` map ({logical: physical}, insertion-ordered)
    # is the table's logical schema — Delta's column-mapping device.
    # A rename/drop is a metadata-only commit; files are never touched,
    # so every historical file stays readable and time travel presents
    # each version under ITS OWN map. Internal machinery (stats, DVs,
    # compaction, file pruning) runs on physical names; translation
    # happens only at the public seams (read projection, incoming-df
    # staging, user predicates/expressions).

    def _cmap(self, man: Optional[dict] = None) -> Optional[dict]:
        """The column map of ``man`` (default: latest), or None."""
        return (self.manifest() if man is None else man).get("columns")

    def _phys(self, name: str, cmap: Optional[dict]) -> str:
        """Physical name of logical column ``name``."""
        return cmap[name] if cmap and name in cmap else name

    def _to_logical(self, df: DataFrame, cmap: Optional[dict], extra=()):
        """Project a physical-schema frame to the logical schema:
        rename mapped columns, DROP unmapped ones (a dropped column is
        simply absent from the map), materialize NULL for a mapped
        physical column no scanned file carries (pre-evolution files).
        ``extra`` columns (identity/bookkeeping) pass through."""
        if not cmap:
            return df
        have = set(df.columns)
        cols = [
            (F.col(p) if p in have else F.lit(None)).alias(lg)
            for lg, p in cmap.items()
        ]
        return df.select(*cols, *[F.col(x) for x in extra])

    @staticmethod
    def _extend_cmap(cols, cmap: dict, retired=()) -> dict:
        """The column map extended with any NEW logical column in
        ``cols``: a fresh physical name is allocated when the logical
        name would collide with a live OR RETIRED physical name — a
        dropped column's bytes linger in old files, so its physical
        slot can never be reissued (the leak Delta prevents with
        permanent column ids)."""
        used_phys = set(cmap.values()) | set(retired)
        ext = dict(cmap)
        for c in cols:
            if c not in ext:
                ext[c] = c if c not in used_phys else f"{c}__p{len(ext)}"
                used_phys.add(ext[c])
        return ext

    @staticmethod
    def _fresh_phys(ph: str, used: set) -> str:
        """A fresh physical name derived from ``ph`` that collides with
        nothing in ``used`` (mutated to include the allocation)."""
        n = 0
        while f"{ph}__r{n}" in used:
            n += 1
        used.add(f"{ph}__r{n}")
        return f"{ph}__r{n}"

    def _rewrite_phys_columns(
        self, e: dict, renames: dict, version: int
    ) -> dict:
        """A manifest entry for ``e``'s file with any ``renames``
        (old physical -> fresh physical) applied to its stored columns
        — a real one-file rewrite via pyarrow (driver-side, no Spark
        job: these are a racer's freshly appended files, KB/MB-scale
        by construction). Entries whose schema touches no renamed
        column are returned untouched. ``col_stats`` are re-keyed
        through ``renames`` (values are content-identical, but a stat
        left under the OLD physical name would describe a column the
        file no longer contains — and one the PRIOR column now owns —
        misleading metadata that can spuriously classify the prior
        column as touched; round-9 ADVICE). A DV pointer carries
        verbatim — DV keys are pinned to the original path at first
        delete, so a path change never orphans sidecar rows."""
        import uuid as _uuid

        import pyarrow.parquet as _pq

        src = os.path.join(self.path, e["path"])
        schema_names = set(_pq.read_schema(src).names)
        if not (schema_names & set(renames)):
            return e
        tbl = _pq.read_table(src)
        tbl = tbl.rename_columns(
            [renames.get(c, c) for c in tbl.column_names]
        )
        out_dir = os.path.join(
            self.path, "data",
            f"v{version:010d}-{_uuid.uuid4().hex[:8]}",
        )
        os.makedirs(out_dir, exist_ok=True)
        dst = os.path.join(out_dir, "part-00000.parquet")
        _pq.write_table(tbl, dst)
        out = {**e, "path": os.path.relpath(dst, self.path)}
        if "col_stats" in e:
            out["col_stats"] = {
                renames.get(c, c): v for c, v in e["col_stats"].items()
            }
        # Register the fresh physical slots' types: the racer's commit
        # registered the OLD physical names (its staging attached
        # them), so re-key those registrations through ``renames`` and
        # ride them on the rewritten entry — the rollback commit's
        # fold then knows the fresh slot, keeping the type-drift guard
        # airtight on this path too (an unregistered fresh slot would
        # accept a first-claim INT against these BIGINT bytes).
        try:
            reg = self.manifest().get("schema") or {}
        except FileNotFoundError:
            reg = {}
        fresh_types = {}
        for c in schema_names:
            if c not in renames:
                continue
            if c in reg:
                fresh_types[renames[c]] = reg[c]
            else:
                # Unregistered old slot (the racer wrote through a
                # path that registered no types, or a legacy table):
                # derive the type from the file's own schema — already
                # loaded as ``tbl`` — so the fresh slot is ALWAYS
                # registered and a later mistyped write can never
                # first-claim it against these bytes (round-10 ADVICE
                # #4).
                try:
                    from pyspark.sql.pandas.types import from_arrow_type

                    fresh_types[renames[c]] = from_arrow_type(
                        tbl.schema.field(c).type
                    ).simpleString()
                except Exception:
                    pass  # no Spark equivalent: leave unregistered
        if fresh_types:
            out["types"] = fresh_types
        return out

    def _to_physical(
        self, df: DataFrame, cmap: Optional[dict], retired=()
    ):
        """Rename an incoming logical-schema frame to physical names
        for staging. Returns (physical_df, extended_map) — see
        ``_extend_cmap`` for the slot-allocation rules."""
        if not cmap:
            return df, None
        ext = self._extend_cmap(df.columns, cmap, retired)
        out = df.select(*[F.col(c).alias(ext[c]) for c in df.columns])
        return out, ext

    @staticmethod
    def _dv_key(e: dict) -> str:
        """The immutable identity string DV sidecars key a file's rows
        on: pinned to the file's manifest path at its FIRST DV delete
        and carried verbatim thereafter — so rebasing the entry path
        (shallow clone) never orphans the sidecar's contents (Delta
        avoids the same problem by keying the DV off the AddFile
        action, not a path inside the vector)."""
        return e["dv"]["key"] if e.get("dv") else e["path"]

    def _fp_uri(self, e: dict) -> str:
        """The ``_metadata.file_path`` URI Spark reports for an
        entry's data file — the scan-side identity half."""
        return "file:" + _uri_path(os.path.abspath(os.path.join(self.path, e["path"])))

    def _dv_fresh(self, man: dict, hits) -> Any:
        """Sidecar rows (``path`` = the pinned DV key, ``row_index``) for
        ``hits``, matched rows collected as Arrow with their ``__fp``
        URI and ``__ri``. A URI that no manifest entry names raises:
        dropping its rows would lose them silently."""
        import pyarrow as pa
        import pyarrow.compute as pc

        key_of = {self._fp_uri(e): self._dv_key(e) for e in man["files"]}
        fps = hits.column("__fp")
        unknown = [u for u in pc.unique(fps).to_pylist() if u not in key_of]
        if unknown:
            raise RuntimeError(
                f"scan of {self.path} reported data files its manifest "
                f"does not name: {unknown[:3]}"
            )
        uris = pa.array(list(key_of), type=pa.string())
        keys = pa.array(list(key_of.values()), type=pa.string())
        return pa.table({
            "path": pc.take(keys, pc.index_in(fps, value_set=uris)),
            "row_index": hits.column("__ri"),
        })

    def _scan_identity(
        self, entries: list[dict], man: Optional[dict] = None
    ) -> DataFrame:
        """Scan ``entries`` with each row's stable identity attached:
        ``__fp`` (the file's ``_metadata.file_path`` URI) and ``__ri``
        (the row's parquet ordinal, ``_metadata.row_index`` — stable
        across scans regardless of split planning). Both are plan-free
        metadata columns — measured ~0.1 s overhead on a 20M-row scan —
        so row identity costs nothing on the big side; translating
        between the URI and the manifest's pinned DV key happens on the
        SMALL (sidecar) side only, in ``_dv_rows``. ``man`` pins the
        read schema exactly as in ``_read_files``."""
        return _read_parquet(
            self._reader(man),
            [os.path.join(self.path, e["path"]) for e in entries],
        ).select(
            "*",
            F.col("_metadata.file_path").alias("__fp"),
            F.col("_metadata.row_index").alias("__ri"),
        )

    def _dv_rows(self, dvd: list[dict]) -> DataFrame:
        """The deleted-row identity set of ``dvd`` (entries carrying a
        DV) as ``(__fp, __ri)`` — sidecar rows translated from pinned
        DV keys to the current snapshot's file URIs via the manifest's
        (key → URI) mapping (O(files) driver metadata).

        r13: the sidecars are KB–MB by contract, so BOTH the read and
        the key→URI translation run driver-side in Arrow and the
        result ships to executors as one Arrow-backed local relation
        (``createDataFrame``). The previous shape planned a Spark
        parquet scan of the KB sidecar plus a broadcast join — a whole
        extra (1-task) stage on every DV'd read and every DV delete,
        pure scheduling overhead on bytes the driver reads in
        single-digit ms. The scan side still sees exactly one
        broadcast anti-join either way."""
        import pyarrow as pa
        import pyarrow.compute as pc

        key_to_uri = {self._dv_key(e): self._fp_uri(e) for e in dvd}
        parts = [
            _read_sidecar(os.path.join(self.path, p))
            for p in sorted({e["dv"]["path"] for e in dvd})
        ]
        t = pa.concat_tables(
            p.cast(parts[0].schema) for p in parts
        )
        # Membership filter doubles as scoping (the old inner join's
        # role): sidecar rows for files no longer in (this view of)
        # the manifest — shared sidecars, rewritten files — drop here.
        keys = pa.array(list(key_to_uri), type=pa.string())
        uris = pa.array(
            [key_to_uri[k] for k in key_to_uri], type=pa.string()
        )
        t = t.filter(pc.is_in(t.column("path"), value_set=keys))
        uri_col = pc.take(uris, pc.index_in(t.column("path"), value_set=keys))
        out = pa.table(
            {"__fp": uri_col, "__ri": t.column("row_index")}
        )
        return self.spark.createDataFrame(out)

    def _live_scan(self, entries: list[dict], man: Optional[dict]) -> DataFrame:
        """``_scan_identity`` of ``entries`` minus the rows their deletion
        vectors mark: one broadcast anti-join on ``(__fp, __ri)``, and
        none when no entry carries a DV."""
        scan = self._scan_identity(entries, man=man)
        dvd = [e for e in entries if e.get("dv")]
        if not dvd:
            return scan
        dv = self._dv_rows(dvd)
        return scan.join(
            F.broadcast(dv),
            (scan["__fp"] == dv["__fp"]) & (scan["__ri"] == dv["__ri"]),
            "left_anti",
        )

    # -- public API --------------------------------------------------------

    def create(self, df: DataFrame) -> int:
        if self.versions():
            raise ConcurrentWriteError(f"table already exists at {self.path}")
        self._commit(0, "create", self._stage_files(df, 0))
        return 0

    def append(self, df: DataFrame, check=None, max_retries: int = 50) -> int:
        """Append ``df`` as a new version. ``check`` (a boolean Column)
        is a Delta-style CHECK constraint: every committed row must
        evaluate it to TRUE — NULL rejects, matching Delta's CHECK
        invariant enforcement (stricter on purpose than standard SQL
        CHECK, where UNKNOWN passes): a constraint a reader cannot
        prove from the data is worthless at read time. The commit is
        rejected with ``CheckViolation`` and the log untouched;
        enforcement happens at WRITE time, once, instead of in every
        reader forever.

        Stage-then-probe ordering: ``df`` is evaluated exactly ONCE —
        the write that stages it. The violation probe then runs over
        the STAGED parquet bytes, so the rows validated are exactly
        the rows that would be committed even when ``df`` is
        non-deterministic (a rand-derived column, a re-read of a
        changing source); on violation the staged files are deleted
        before raising (round-5 advice).

        A lost version race rebases the same staged files (no
        re-staging, no re-evaluation of ``df``); ``max_retries``
        bounds livelock under pathological contention."""
        man0 = self.manifest()
        staged, new_cols = self._stage_logical(
            df, man0["version"] + 1, man0, refuse_drift=True
        )
        if check is not None:
            ext = None if new_cols is None else {**man0["columns"], **new_cols}
            bad = (
                self._to_logical(self._read_files(staged), ext)
                .filter(~F.coalesce(check, F.lit(False)))
                .count()
            )
            if bad:
                self._discard(staged)
                raise CheckViolation(
                    f"{bad} incoming row(s) violate the table CHECK "
                    f"constraint; commit rejected"
                )
        return self._commit_retrying(
            "append", self.manifest(),
            lambda m: (
                m["files"] + staged,
                self._rebased_map_extension(m, staged, new_cols),
            ),
            None, max_retries + 1, man0.get("schema") or {},
        )

    def _stage_logical(
        self, df, version: int, man: dict, refuse_drift: bool = False
    ) -> tuple[list[dict], Optional[dict]]:
        """Stage a LOGICAL-schema frame against ``man``'s column map:
        renamed to physical names (new columns get fresh slots, never
        a retired one — see ``_extend_cmap``) and staged with the
        physical stats column. Returns (entries, new_cols), where
        ``new_cols`` is the {logical: physical} allocation of columns
        the map lacked, or None when the table carries no map.
        ``refuse_drift`` runs the append-shaped type check
        (``_refuse_type_drift``) on the physical frame before staging."""
        cmap = man.get("columns")
        if cmap:
            df, ext = self._to_physical(
                df, cmap, retired=man.get("retired_columns", ())
            )
        if refuse_drift:
            self._refuse_type_drift(df, man)
        if not cmap:
            return self._stage_files(df, version), None
        staged = self._stage_files(
            df, version, stats_col=self._phys(self.stats_col, ext)
        )
        return staged, {lg: ph for lg, ph in ext.items() if lg not in cmap}

    def _discard(self, staged: list[dict]) -> None:
        """Delete the staging directories of never-committed entries."""
        for d in {
            os.path.dirname(os.path.join(self.path, e["path"]))
            for e in staged
        }:
            shutil.rmtree(d, ignore_errors=True)

    def _rebased_map_extension(
        self, man: dict, staged: list[dict], new_cols: Optional[dict]
    ) -> Any:
        """The column map a commit of ``staged`` publishes on top of
        ``man``: ``_CARRY`` when ``man`` carries no map, else the live
        map extended with the commit's new columns — ``new_cols``
        (allocated against the STAGING snapshot) plus an IDENTITY entry
        for any staged physical column the live map does not know.

        The identity part closes the map-less-staging × map-creating-
        racer hole (found by the multi-writer model, seed 51003): a
        writer that staged a NEW column while the table had no column
        map (physical == logical) can lose its version race to a
        rename — which CREATES the map from a snapshot predating this
        writer's registration. Blindly carrying that map would publish
        the staged column unmapped, hence silently invisible on every
        read. The staged file froze the physical name and the writer
        meant it as the logical name, so the sound rebase is the
        identity entry.

        Every extension is re-validated against the live map: the
        staged parquet froze its physical names, but by commit time a
        racer may have (a) renamed another column ONTO our physical
        slot, (b) added the same logical name under a different slot,
        or (c) dropped-and-retired our slot. Publishing the blind
        merge gave two logical columns one physical name, and every
        later ``_to_physical`` select threw ``AnalysisException
        [COLUMN_ALREADY_EXISTS]`` out of whatever innocent op ran next
        (seeds 72/95 in the colmap stress reproduce both signatures).
        Since the staged bytes cannot be re-pointed at a new physical
        name, the only sound outcome is Delta's: a metadata conflict
        REFUSES (``ConcurrentWriteError``) and the caller re-stages
        from a fresh snapshot. An identical mapping already live (two
        blind appends introducing the same new column the same way)
        stays adoptable."""
        cur = man.get("columns")
        if not cur:
            return TxnTable._CARRY
        ext = dict(new_cols or {})
        known = set(cur.values()) | set(ext.values())
        for e in staged:
            for c in (e.get("types") or {}):
                if c not in known:
                    ext[c] = c
                    known.add(c)
        retired = set(man.get("retired_columns", ()))
        phys_owner = {p: lg for lg, p in cur.items()}
        merged = dict(cur)
        for lg, ph in ext.items():
            if merged.get(lg) == ph:
                continue  # racer landed the identical extension
            clash = (
                f"logical {lg!r} now maps to {merged[lg]!r}"
                if lg in merged
                else f"physical {ph!r} now owned by "
                     f"{phys_owner[ph]!r}"
                if ph in phys_owner
                else f"physical {ph!r} was retired"
                if ph in retired
                else None
            )
            if clash:
                raise ConcurrentWriteError(
                    f"new-column extension {lg!r}->{ph!r} lost a "
                    f"schema race ({clash}); re-stage against the "
                    f"current snapshot"
                )
            merged[lg] = ph
            phys_owner[ph] = lg
        return merged

    def _commit_retrying(
        self,
        op: str,
        man: dict,
        build,
        read,
        attempts: int,
        base_schema: dict,
    ) -> int:
        """Commit ``op`` on top of ``man``, rebasing after lost version
        races; returns the committed version.

        ``build(m)`` returns the ``(files, columns)`` one attempt
        publishes as version ``m["version"] + 1``. ``read(m)`` returns
        the entries of ``m`` the op's staged work depends on, or
        ``read`` is None for a blind append. After a lost race the
        latest manifest is re-read; if the identity of the read
        entries changed (data path plus DV sidecar path — a racer's DV
        delete keeps the data path but changes the live rows, so a
        rule comparing paths alone would resurrect deleted rows), the
        op refuses with ``ConcurrentWriteError``; otherwise it rebuilds
        on the new manifest and commits at the next version. A
        ``ConcurrentSchemaError`` always surfaces: committing the same
        staged files again can never clear it."""

        def ident(m: dict) -> list[tuple]:
            return sorted(
                (e["path"], e.get("dv", {}).get("path")) for e in read(m)
            )

        want = None if read is None else ident(man)
        for _ in range(attempts):
            v = man["version"] + 1
            files, columns = build(man)
            try:
                self._commit(
                    v, op, files, columns=columns, base_schema=base_schema
                )
                return v
            except ConcurrentSchemaError:
                raise
            except ConcurrentWriteError:
                man = self.manifest()
                if want is not None and ident(man) != want:
                    raise ConcurrentWriteError(
                        f"{op} lost a race to a commit that changed "
                        f"file(s) it read; retry on the new snapshot"
                    ) from None
        raise ConcurrentWriteError(
            f"{op} lost {attempts} consecutive version races at {self.path}"
        )

    def _commit_rewrite(
        self, op: str, man: dict, inputs: list[dict], new_files: list[dict]
    ) -> int:
        """Commit a content-preserving rewrite of ``inputs`` (their
        live rows re-staged as ``new_files``), carrying every other
        entry by reference. A continuous OPTIMIZE / auto-compaction /
        REORG loop thereby runs alongside blind-append ingest without
        either side retrying at the caller level."""
        in_paths = {e["path"] for e in inputs}
        return self._commit_retrying(
            op, man,
            lambda m: (
                [e for e in m["files"] if e["path"] not in in_paths]
                + new_files,
                TxnTable._CARRY,
            ),
            lambda m: [e for e in m["files"] if e["path"] in in_paths],
            11, man.get("schema") or {},
        )

    def append_once(self, df: DataFrame, txn_id: str) -> Optional[int]:
        """Idempotent append: if ANY committed manifest already carries
        ``txn_id``, this is a no-op returning None — the writer-side
        half of exactly-once for retrying producers (a replayed
        streaming micro-batch, a re-run ingestion job). Delta's
        txn appId/version device, reduced to one token. The txn_id
        check reads the latest checkpoint + the log tail
        (O(checkpoint_interval) amortized — see ``_txn_ids_before``;
        without checkpoints a long-lived streaming sink would pay an
        O(versions) scan per micro-batch, O(n²) cumulative).

        Duplicate-proof ordering: each attempt PINS its target version
        FIRST, then scans every committed version (all < target) for
        the txn_id, then links at exactly that pinned version. Versions
        are strictly sequential, so a successful link proves nothing
        was committed between the version pin and the link — i.e. the
        scan provably covered every commit that could carry the token.
        (Scanning before pinning would leave a window where a racer
        lands the same txn_id and our commit still succeeds at the next
        version — a double-commit. Rebasing helpers that re-read the
        latest version internally reintroduce exactly that window,
        which is why this loop calls ``_commit`` directly.)"""
        staged: Optional[list[dict]] = None
        for _ in range(51):
            v = self.latest_version() + 1
            if txn_id in self._txn_ids_before(v):
                return None  # already landed (possibly by a racer)
            if staged is None:
                man0 = self.manifest()
                base_sch = man0.get("schema") or {}
                staged, new_cols = self._stage_logical(
                    df, v, man0, refuse_drift=True
                )
            try:
                man = self.manifest()
                columns = self._rebased_map_extension(man, staged, new_cols)
                try:
                    self._commit(
                        v, "append", man["files"] + staged,
                        txn_id=txn_id, columns=columns,
                        base_schema=base_sch,
                    )
                    return v
                except ConcurrentSchemaError:
                    raise
                except ConcurrentWriteError:
                    continue  # something committed since the pin; re-scan
            except ConcurrentWriteError:
                # A lost metadata race: a racer made our staged physical
                # names unallocatable, or registered a conflicting
                # column type. append_once's contract is retry-until-
                # exactly-once, so unlike plain append we do NOT surface
                # the refusal: discard the stale staging and RE-STAGE
                # against the fresh snapshot (Delta's txn-appId pattern
                # re-runs the write on conflict; exactly-once is still
                # guaranteed by the token, and the pre-stage drift check
                # then refuses with the accurate "cast the incoming
                # frame" signal if a type conflict is real).
                self._discard(staged)
                staged = None
        raise ConcurrentWriteError(
            f"append_once lost 51 consecutive version races at {self.path}"
        )

    def vacuum(
        self, retain_versions: int = 1, min_age_seconds: float = 0.0
    ) -> tuple[int, int]:
        """Delete data files unreferenced by the newest
        ``retain_versions`` manifests. Returns ``(deleted, kept)`` where
        ``kept`` is the number of parquet files remaining on disk after
        this call (files seen in the walk minus files deleted). After a
        vacuum, reads of retained versions are unaffected; older
        versions' manifests remain in the log (auditable) but their
        exclusive files are gone — exactly Delta VACUUM's trade (time
        travel horizon = retention).

        ``min_age_seconds`` is the concurrent-writer guard: a racing
        writer's freshly STAGED files are not referenced by any
        manifest yet, so an unguarded vacuum would collect them between
        stage and commit, leaving the commit's manifest pointing at
        deleted files. Files younger than the guard are skipped — the
        same reason Delta's VACUUM enforces a retention window (default
        7 days) and refuses 0 without an override. The 0 default here
        suits single-writer demos/tests; any deployment running vacuum
        concurrently with writers must set it above the longest
        stage-to-commit latency.

        The age guard does NOT cover commits that re-reference OLD
        files (``restore``, a shallow clone's source): those files'
        mtimes predate any guard. Three mitigations: the candidate set
        is re-validated against any manifest committed while the scan
        ran (closing all but a sub-second window); ``restore`` itself
        verifies its referenced files after committing, so a lost race
        fails loudly instead of leaving a silently broken snapshot —
        the residual caveat Delta also documents (RESTORE after VACUUM
        may fail); and a retained restore manifest pins its ROLLBACK
        target's files (prior version) so the loud failure's recovery
        path stays intact — see ``_pinned`` below. Stale ``.tmp``
        manifests from crashed writers are swept from the log once
        ≥ 300 s old (a live writer's write→link window is
        milliseconds)."""
        import glob as _glob
        import time as _time

        def _live(version: int) -> set[str]:
            # A manifest keeps both its data files AND the deletion-
            # vector sidecars its entries reference — collecting a live
            # DV would silently RESURRECT deleted rows on read.
            out = set()
            for e in self.manifest(version)["files"]:
                out.add(e["path"])
                if e.get("dv"):
                    out.add(e["dv"]["path"])
            return out

        def _pinned(version: int) -> set[str]:
            # A restore commit is PROVISIONAL until its post-commit
            # verify completes: restore() may still roll back onto the
            # version just before it (prior = restore_version - 1), so
            # a retained restore manifest pins its rollback target's
            # files too. Without this, a vacuum landing while a broken
            # restore is latest collects the prior snapshot's exclusive
            # files, and the subsequent rollback publishes a latest
            # referencing deleted files — breaking restore's "readers
            # of latest keep working either way" guarantee (found by
            # the round-10 rollback-window race test). Delta closes the
            # same window with its retention-duration guard; this pin
            # is the explicit, duration-free equivalent.
            out = _live(version)
            if version <= 0:
                return out
            if self.manifest(version).get("op", "").startswith(
                "restore("
            ):
                out |= _live(version - 1)
                return out
            # A retained NON-restore manifest that references MISSING
            # files carries an unresolved broken restore — a blind
            # append can rebase onto the broken snapshot before the
            # rollback lands (the restore-stress seed-79 interleaving),
            # making the retained op an append while the pending
            # recovery still targets the prior of the most recent
            # restore BELOW it. Pin that prior too. Existence checks
            # run only on this manifest's own paths (O(files),
            # driver-side), and the back-walk only when breakage is
            # actually present.
            if any(
                not os.path.exists(os.path.join(self.path, p))
                for p in out
            ):
                for v in range(version - 1, 0, -1):
                    if self.manifest(v).get("op", "").startswith(
                        "restore("
                    ):
                        out |= _live(v - 1)
                        break
            return out

        vs = self.versions()
        keep_vs = vs[-retain_versions:]
        live = (
            set().union(*(_pinned(v) for v in keep_vs)) if keep_vs else set()
        )
        now = _time.time()
        candidates = []
        seen = 0  # parquet files actually on disk during the walk
        for sub in ("data", "dv"):
            for dirpath, _, names in os.walk(os.path.join(self.path, sub)):
                for n in names:
                    if not n.endswith(".parquet"):
                        continue
                    seen += 1
                    full = os.path.join(dirpath, n)
                    rel = os.path.relpath(full, self.path)
                    if rel not in live:
                        if min_age_seconds > 0:
                            try:
                                if (
                                    now - os.path.getmtime(full)
                                    < min_age_seconds
                                ):
                                    continue
                            except OSError:
                                continue  # concurrently removed
                        candidates.append((full, rel))
        # Re-validate against manifests committed DURING the scan (a
        # concurrent restore/clone may re-reference old files); a fresh
        # restore commit pins its rollback target here too.
        for v in self.versions():
            if v not in vs:
                live |= _pinned(v)
        deleted = 0
        for full, rel in candidates:
            if rel in live:
                continue
            try:
                os.remove(full)
            except FileNotFoundError:
                continue  # concurrent vacuum got it first
            deleted += 1
        # Sweep crashed writers' orphaned .tmp manifests from the log.
        for tmp in _glob.glob(
            os.path.join(_glob.escape(_log_dir(self.path)), "*.tmp")
        ):
            try:
                if now - os.path.getmtime(tmp) >= 300:
                    os.unlink(tmp)
            except OSError:
                pass
        # "kept" counts files actually observed on disk minus those this
        # call deleted — NOT len(live), which counts manifest-referenced
        # paths (a re-validation union can reference paths that never
        # existed under data/ or duplicate retained ones, overstating
        # the inventory).
        return deleted, seen - deleted

    def read(self, version: Optional[int] = None) -> DataFrame:
        man = self.manifest(version)
        # Each snapshot is presented under ITS OWN column map — time
        # travel across a rename shows the historical logical schema —
        # and under its own pinned read schema (evolution/restore
        # history included), so planning reads zero parquet footers.
        return self._to_logical(
            self._read_files(man["files"], man=man), man.get("columns")
        )

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN as a metadata-only commit (Delta column
        mapping): the logical→physical map changes; zero files are
        touched, so the rename is O(manifest) at any table size and
        every historical snapshot keeps ITS name for the column.
        Readers of older versions see the old name; appends after the
        rename write the FROZEN physical name, so files from before
        and after the rename stay mutually readable.

        The commit version is pinned from the SAME manifest snapshot
        the new map derives from (all mutators here follow this rule):
        a fresh ``latest_version()`` after the snapshot read would let
        a racer's commit land in between and be silently overwritten —
        fresh version + stale state = the put-if-absent link succeeds
        and the conflict matrix never fires."""
        man = self.manifest()
        cm = self._identity_cmap(man)
        if old not in cm:
            raise ValueError(f"no such column: {old!r}")
        if new in cm:
            raise ValueError(f"column {new!r} already exists")
        out = {(new if lg == old else lg): ph for lg, ph in cm.items()}
        v = man["version"] + 1
        self._commit(
            v, f"rename_column({old}->{new})",
            man["files"], columns=out,
        )
        return v

    def drop_column(self, name: str) -> int:
        """DROP COLUMN as a metadata-only commit: the column leaves
        the logical map (reads project it away); the physical bytes
        remain until files are naturally rewritten — Delta's mapped
        drop. The clustering/stats column cannot be dropped (pruning
        bounds would dangle)."""
        if name == self.stats_col:
            raise ValueError(
                f"cannot drop the declared stats/clustering column "
                f"{name!r}"
            )
        man = self.manifest()
        cm = self._identity_cmap(man)
        if name not in cm:
            raise ValueError(f"no such column: {name!r}")
        if len(cm) == 1:
            raise ValueError("cannot drop the last column")
        out = {lg: ph for lg, ph in cm.items() if lg != name}
        v = man["version"] + 1  # snapshot pin — see rename_column
        self._commit(
            v, f"drop_column({name})", man["files"], columns=out,
            # Retire the physical slot forever: its bytes linger in
            # old files, so re-adding a column under this name must
            # get a FRESH physical column, not the corpse.
            retired=list(man.get("retired_columns", [])) + [cm[name]],
        )
        return v

    def _identity_cmap(self, man: Optional[dict] = None) -> dict:
        """The logical→physical map of ``man`` (default: latest),
        materializing the identity map from the data schema on first
        use (schema resolution only — footer reads, no job)."""
        man = self.manifest() if man is None else man
        cm = man.get("columns")
        if cm:
            return dict(cm)
        rs = man.get("read_schema")
        if rs:
            # Pure manifest metadata — not even a schema-resolution
            # Spark call is needed to materialize the identity map.
            return {n: n for n, _ in rs}
        return {
            c: c
            for c in self._read_files(man["files"], man=man).columns
        }

    def clone_to(self, path: str, version: Optional[int] = None) -> "TxnTable":
        """SHALLOW CLONE: create a new table at ``path`` whose v0
        manifest references THIS table's data files by (relative) path —
        zero data copied, O(manifest) cost at any table size. Writes to
        the clone are copy-on-write into the clone's own ``data/`` dir,
        so the source is never mutated through a clone; a VACUUM on the
        source, however, can collect files the clone still references —
        the same retention caveat Delta documents for shallow clones.
        Returns a handle to the clone."""
        def _rebase(p: str) -> str:
            return os.path.relpath(os.path.join(self.path, p), path)

        src_man = self.manifest(version)
        entries = src_man["files"]
        rel = [
            {
                **e,
                "path": _rebase(e["path"]),
                **(
                    {"dv": {**e["dv"], "path": _rebase(e["dv"]["path"])}}
                    if e.get("dv")
                    else {}
                ),
            }
            for e in entries
        ]
        c = TxnTable(self.spark, path, self.stats_col)
        if c.versions():
            raise ConcurrentWriteError(f"table already exists at {path}")
        # The retired-physical-name set MUST travel with the clone
        # (round-7 advice, high): the clone shares the source's data
        # files, so a physical slot retired in the source (a dropped
        # column whose bytes linger in those files) can never be
        # reissued in the clone either. Leaving retired to _CARRY here
        # would resolve it against the CLONE's empty log (= none) and
        # a later re-add of the dropped column would reuse the corpse's
        # slot — resurrecting its old values or clashing on type.
        # The column TYPE registry travels for the same reason: the
        # clone shares the source's files, so an append the source
        # would refuse as type drift must refuse in the clone too.
        c._commit(
            0, f"clone({self.path})", rel,
            columns=src_man.get("columns"),
            retired=src_man.get("retired_columns"),
            schema=src_man.get("schema"),
            read_schema=src_man.get("read_schema"),
        )
        return c

    def restore(self, version: int) -> int:
        """RESTORE the table to an earlier snapshot as a NEW commit - Delta's RESTORE semantics: the new manifest references the old
        version's file entries VERBATIM, so the operation is zero-copy
        and O(manifest) regardless of table size, the restored-over
        versions remain readable (history is append-only), and a later
        VACUUM governs when their exclusive files actually go away.
        Returns the new version number.

        Validation order (Delta's RESTORE also validates existence
        before committing): the referenced files are checked BEFORE the
        commit, so a snapshot already broken by an earlier vacuum is
        never published as latest. A vacuum can still race into the
        check→commit window (the old files' mtimes predate any age
        guard — see ``vacuum``), so the files are RE-verified after the
        commit; if that residual race hits, the broken snapshot is
        rolled back by committing a follow-up manifest that re-publishes
        the pre-restore latest, and ``FileNotFoundError`` is raised —
        readers of "latest" keep working either way."""

        def _missing(entries: list[dict]) -> list[str]:
            # Both the data file and, when present, its deletion-vector
            # sidecar must exist — a restored snapshot missing a DV
            # would resurrect deleted rows.
            need = [e["path"] for e in entries] + [
                e["dv"]["path"] for e in entries if e.get("dv")
            ]
            return [
                p for p in need
                if not os.path.exists(os.path.join(self.path, p))
            ]

        restored = self.manifest(version)
        files = restored["files"]
        prior_v = self.latest_version()
        missing = _missing(files)
        if missing:
            raise FileNotFoundError(
                f"restore({version}) refused: {len(missing)} referenced "
                f"file(s) already vacuumed (e.g. {missing[0]}); restore "
                f"an un-vacuumed version or re-ingest"
            )
        new_v = prior_v + 1
        # RESTORE carries the restored snapshot's COLUMN MAP and its
        # pinned READ SCHEMA — restoring across a rename or a column
        # addition restores the old logical schema exactly (Delta's
        # RESTORE rolls table metadata back the same way). The TYPE
        # registry, by contrast, stays monotonic via _CARRY: old files'
        # bytes remain reachable through retained manifests, so their
        # type claims must outlive any restore.
        self._commit(
            new_v, f"restore({version})", files,
            columns=restored.get("columns"),
            read_schema=restored.get("read_schema"),
        )
        missing = _missing(files)
        if missing:
            # Roll back: re-publish the pre-restore snapshot so the
            # table's latest stays readable. Its files are safe from the
            # racing vacuum (it was the latest, retain_versions >= 1
            # keeps it). A writer that beats the rollback commit does
            # NOT necessarily supersede the broken snapshot: a blind
            # append REBASES onto the broken manifest and carries the
            # vacuumed references forward (round-7 advice, low) — so on
            # a lost race, re-check whether latest still references the
            # missing files and, if so, REBASE the rollback: prior file
            # set, plus every file committed since the broken restore
            # (the racers' appends), adopting the racers' entries for
            # shared paths (their DV updates must survive the revert).
            prior_man = self.manifest(prior_v)
            broken_paths = {e["path"] for e in files}
            roll_v = new_v + 1
            for _ in range(51):
                latest_man = self.manifest()
                if latest_man["version"] != new_v and not _missing(
                    latest_man["files"]
                ):
                    break  # someone superseded the breakage for real
                by_path = {e["path"]: e for e in latest_man["files"]}
                broken_by_path = {e["path"]: e for e in files}
                prior_paths = {e["path"] for e in prior_man["files"]}
                # Shared paths: the racer's entry wins only where the
                # racer actually CHANGED it since the broken restore
                # (e.g. a DV delete that must survive the revert);
                # an entry merely carried from the broken manifest
                # reverts to the prior version's state (keeping the
                # prior DV the restore had discarded).
                rolled = [
                    by_path[e["path"]]
                    if (
                        e["path"] in by_path
                        and by_path[e["path"]]
                        != broken_by_path.get(e["path"])
                    )
                    else e
                    for e in prior_man["files"]
                ] + [
                    e
                    for e in latest_man["files"]
                    if e["path"] not in broken_paths
                    and e["path"] not in prior_paths
                ]
                # Map rebase: prior logical schema, extended by any
                # column a racing append added on top of the broken
                # snapshot (its physical files exist and must stay
                # reachable).
                cols = prior_man.get("columns")
                ext = latest_man.get("columns") or {}
                restored_cols = restored.get("columns") or {}
                racer_new = {
                    lg: ph
                    for lg, ph in ext.items()
                    if lg not in restored_cols
                }
                if cols and racer_new:
                    # Same hazard class as _rebased_map_extension: the
                    # racer allocated against the BROKEN restore's map,
                    # so its names can collide with the prior map.
                    # Refusal is not an option here — the rollback's
                    # one job is restoring a readable latest, and
                    # _commit hard-refuses duplicate-physical maps, so
                    # a blind merge would abort the rollback outright.
                    # Collision policy, per racer column (lg: ph):
                    # - logical collision (lg already in the prior
                    #   map): the prior claim wins the revert; the
                    #   racer mapping is dropped (bytes stay in its
                    #   files, unmapped hence invisible).
                    # - retired ph: drop the mapping — retired slots
                    #   are unmapped, so nothing aliases.
                    # - ph ALIASING a live prior physical (a historic
                    #   rename chain can leave prior logical y reading
                    #   physical 'x' while the racer allocated a fresh
                    #   'x'): dropping the mapping is NOT enough — the
                    #   racer's bytes would surface under the prior
                    #   column on merged reads. The racer's files are
                    #   REWRITTEN with the colliding physical renamed
                    #   to a fresh slot (bounded: the racer's own new
                    #   files only, in an already-doubly-raced path),
                    #   keeping both the prior column and the racer's
                    #   data exact.
                    prior_phys = set(cols.values())
                    prior_retired = set(
                        prior_man.get("retired_columns", ())
                    )
                    adopted: dict[str, str] = {}
                    aliasing: dict[str, str] = {}  # old ph -> fresh ph
                    used = (
                        prior_phys | prior_retired | set(ext.values())
                    )
                    for lg, ph in racer_new.items():
                        if lg in cols or ph in prior_retired:
                            if ph in prior_phys and cols.get(lg) != ph:
                                aliasing.setdefault(
                                    ph, self._fresh_phys(ph, used)
                                )
                            continue
                        if ph in prior_phys:
                            fresh = aliasing.setdefault(
                                ph, self._fresh_phys(ph, used)
                            )
                            adopted[lg] = fresh
                        else:
                            adopted[lg] = ph
                    if aliasing:
                        racer_paths = {
                            e["path"]
                            for e in latest_man["files"]
                            if e["path"] not in broken_paths
                            and e["path"] not in prior_paths
                        }
                        rolled = [
                            self._rewrite_phys_columns(
                                e, aliasing, roll_v
                            )
                            if e["path"] in racer_paths
                            else e
                            for e in rolled
                        ]
                    cols = {**cols, **adopted}
                try:
                    # The rollback composes files from THREE schema
                    # sources (prior snapshot, racer appends, rewritten
                    # fresh slots) in an already-doubly-raced recovery
                    # path; publish it UNPINNED (read_schema=None) —
                    # reads of it fall back to the always-correct
                    # footer union, and the next ordinary commit
                    # backfills the pin from footers in one metadata
                    # pass.
                    self._commit(
                        roll_v,
                        f"restore-rollback({version})",
                        rolled,
                        columns=cols,
                        read_schema=None,
                    )
                    break
                except ConcurrentWriteError:
                    roll_v = self.latest_version() + 1
            raise FileNotFoundError(
                f"restore({version}) lost a race with vacuum: "
                f"{len(missing)} referenced file(s) collected after "
                f"commit (e.g. {missing[0]}); rolled back to the "
                f"v{prior_v} file set"
            )
        return new_v

    def _split_by_key_range(
        self, entries: list[dict], lo: Any, hi: Any,
        col: Optional[str] = None, cmap: Optional[dict] = None,
    ) -> tuple[list[dict], list[dict]]:
        """(touched, untouched) file partition for incoming keys in
        [lo, hi] on PHYSICAL column ``col`` (default: the declared
        stats column; callers holding a column map translate first).
        For other columns the bounds come from the footer-recorded
        ``col_stats`` (keyed by physical names); files without stats
        for the column — aggregate-path stagings, pre-multi-stats
        manifests — are conservatively touched, as are NULL bounds
        (all-null column)."""
        stats_phys = self._phys(self.stats_col, cmap)
        col = stats_phys if col is None else col
        touched, untouched = [], []
        for e in entries:
            if col == stats_phys:
                b_lo, b_hi = e["min"], e["max"]
            else:
                b_lo, b_hi = e.get("col_stats", {}).get(col, (None, None))
            if b_lo is None or b_hi is None or (b_hi >= lo and b_lo <= hi):
                touched.append(e)
            else:
                untouched.append(e)
        return touched, untouched

    def merge(
        self,
        source: DataFrame,
        key: str,
        target_file_rows: Optional[int] = None,
        max_retries: int = 10,
    ) -> tuple[int, int, int]:
        """MERGE (upsert): source rows overwrite matching-key target
        rows; unmatched source rows insert. Returns (new_version,
        files_rewritten, files_carried).

        ``target_file_rows`` sizes the rewritten output to ~that many
        rows per file, range-clustered on the merge key (optimized
        write — keeps high-frequency MERGE from shredding the table
        into small files OR snowballing one giant file). ``max_retries``
        bounds the rebases after lost version races.

        Copy-on-write with manifest pruning: only files whose stats
        range intersects the source's [min(key), max(key)] are read and
        rewritten — matches outside that range are impossible, so the
        rest of the table is carried by reference (zero I/O). The
        source key range is 2 scalars from one source aggregate.

        ``key`` may be ANY column with footer-recorded stats, not just
        the declared clustering column: the manifest carries min/max
        for every numeric column (``col_stats``), so a MERGE keyed off
        a secondary column still prunes — how WELL it prunes depends on
        how correlated that column is with the file layout (perfectly
        for a Z-ORDERed second dimension, conservatively not at all for
        a shuffled one; correctness never depends on it). Files lacking
        stats for ``key`` are conservatively rewritten."""
        if key not in source.columns:
            raise ValueError(f"merge key {key!r} not in source columns")
        man = self.manifest()
        entries, cmap = man["files"], man.get("columns")
        # Delta MERGE parity: source columns the target already has are
        # CAST to the table's registered type (an INT-typed source
        # against a BIGINT column must not stage INT files — the
        # insert-only leg writes the source verbatim, and one such file
        # breaks every later mergeSchema read). No-op (no added plan
        # node) when types already match. The cast precedes the [lo,
        # hi] aggregate below so the prune bounds are computed on the
        # values that actually stage: a NARROWING key cast fails the
        # aggregate loudly under ANSI (this engine's sessions) before
        # any file is staged, and even under ansi=false a wrapped key
        # prunes consistently with the wrapped bytes it writes.
        sch = man.get("schema") or {}
        if sch:
            want = {}
            for f in source.schema.fields:
                if cmap is not None and f.name not in cmap:
                    # Source-only LOGICAL column: _to_physical below
                    # allocates it a FRESH physical slot (never a
                    # retired one), so it defines its own type — in
                    # particular a RE-ADD after DROP must not be cast
                    # to the retired corpse's type.
                    continue
                ph = self._phys(f.name, cmap)
                if ph in sch and sch[ph] != f.dataType.simpleString():
                    want[f.name] = sch[ph]
            if want:
                source = source.select(
                    *[
                        F.col(c).cast(want[c]).alias(c)
                        if c in want else F.col(c)
                        for c in source.columns
                    ]
                )
        b = source.agg(
            F.min(key), F.max(key), F.count(F.lit(1))
        ).collect()[0]
        if b[0] is None:
            raise ValueError("merge source has no non-null keys")
        lo, hi, src_n = b[0], b[1], b[2]
        touched, untouched = self._split_by_key_range(
            entries, lo, hi, col=self._phys(key, cmap), cmap=cmap
        )
        v = man["version"] + 1  # snapshot pin — see rename_column
        if touched:
            t = self._to_logical(
                self._read_files(touched, man=man), cmap
            ).alias("t")
            # Column semantics (Delta MERGE parity):
            # - a source column the target lacks (additive evolution,
            #   like append's) has no t-side leg — unmatched-target
            #   rows read it as NULL, same as mergeSchema gives the
            #   untouched files;
            # - a TARGET column the source omits is UNMENTIONED, not
            #   deleted: matched and unmatched target rows keep their
            #   value, inserted rows get NULL. Selecting only
            #   source.columns here would silently NULL the omitted
            #   column for every row of the rewritten files.
            t_cols = set(t.columns)
            src_cols = set(source.columns)
            s = source.alias("s")
            merged = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"),
                            "full_outer").select(
                *[
                    F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c)
                    if c in t_cols else F.col(f"s.{c}").alias(c)
                    for c in source.columns
                ],
                *[
                    F.col(f"t.{c}").alias(c)
                    for c in t.columns
                    if c not in src_cols
                ],
            )
        else:
            # Pure insert: target-only columns are simply absent from
            # the staged file; reads materialize NULL via mergeSchema.
            merged = source
        if target_file_rows is not None:
            # Optimized write (Delta's optimizeWrite): size the staged
            # output to ~target_file_rows per file, clustered on the
            # merge key so the new files stay prunable. The row bound
            # is manifest metadata + the source count already fetched —
            # no extra job.
            est = sum(e["rows"] for e in touched) + src_n
            n_out = max(1, -(-est // target_file_rows))
            merged = merged.repartitionByRange(
                n_out, key
            ).sortWithinPartitions(key)
        # new_cols threads a source-only column into the committed map,
        # as append does — without it the column is staged physically
        # but invisible on read.
        new_files, new_cols = self._stage_logical(merged, v, man)
        col = self._phys(key, cmap)

        def build(m: dict) -> tuple[list[dict], Any]:
            nonlocal untouched
            untouched = self._split_by_key_range(
                m["files"], lo, hi, col=col, cmap=cmap
            )[1]
            return (
                untouched + new_files,
                self._rebased_map_extension(m, new_files, new_cols),
            )

        v = self._commit_retrying(
            "merge", man, build,
            lambda m: self._split_by_key_range(
                m["files"], lo, hi, col=col, cmap=cmap
            )[0],
            max_retries + 1, sch,
        )
        return v, len(touched), len(untouched)

    def compact_small(
        self, max_rows: int, target_files: int = 1
    ) -> tuple[int, int, int]:
        """Incremental OPTIMIZE: rewrite only the files with fewer than
        ``max_rows`` rows into ``target_files`` range-clustered files,
        carrying every adequately-sized file by reference. Returns
        (version, files_compacted, files_carried); a no-op (fewer than
        2 small files) commits nothing and returns the current version
        with files_compacted=0.

        This is the maintenance loop a streaming or micro-batched
        ingest needs at scale: each trigger appends a small file, and
        full ``compact`` would rewrite the WHOLE table each time —
        O(table) I/O for O(batch) new data. Selecting by the manifest's
        per-file row counts keeps the rewrite proportional to the small
        tail (Delta's auto-compaction / OPTIMIZE-where heuristic);
        clustering on ``stats_col`` keeps the output prunable."""
        man = self.manifest()
        entries, cmap = man["files"], man.get("columns")
        stats_phys = self._phys(self.stats_col, cmap)
        small = [e for e in entries if e["rows"] < max_rows]
        big = [e for e in entries if e["rows"] >= max_rows]
        if len(small) < 2:
            return self.latest_version(), 0, len(entries)
        v = man["version"] + 1  # snapshot pin — see rename_column
        # Physical round-trip: content-preserving rewrites never leave
        # the frozen physical schema, so a column map stays untouched.
        df = (
            self._read_files(small, man=man)
            .repartitionByRange(target_files, stats_phys)
            .sortWithinPartitions(stats_phys)
        )
        v = self._commit_rewrite(
            "compact_small", man, small,
            self._stage_files(df, v, stats_col=stats_phys),
        )
        return v, len(small), len(big)

    def reorg_purge(self, max_deleted_ratio: float = 0.2) -> tuple[int, int, int]:
        """REORG … APPLY (PURGE): materialize deletion vectors away on
        exactly the files where they hurt — entries whose
        ``dv.deleted / rows`` exceeds ``max_deleted_ratio`` are
        rewritten to their live rows (dropping the vector); everything
        else, including lightly-vectored files, is carried by
        reference. Returns (version, files_purged, files_carried); a
        no-op commits nothing.

        This bounds the merge-on-read read tax (the broadcast
        anti-join applies only to still-vectored files) at I/O
        proportional to the HOT files, where full ``compact`` is
        O(table) — the maintenance loop that keeps DV tables readable
        under continuous erasure, same trade as Delta's REORG PURGE.
        Selection is manifest metadata; no data scan decides anything."""
        man = self.manifest()
        entries = man["files"]
        hot = [
            e for e in entries
            if e.get("dv")
            and e["rows"] > 0
            and e["dv"]["deleted"] / e["rows"] > max_deleted_ratio
        ]
        if not hot:
            return self.latest_version(), 0, len(entries)
        hot_paths = {e["path"] for e in hot}
        cold = [e for e in entries if e["path"] not in hot_paths]
        v = man["version"] + 1  # snapshot pin — see rename_column
        new_files = self._stage_files(
            self._read_files(hot, man=man), v,
            stats_col=self._phys(self.stats_col, man.get("columns")),
        )
        v = self._commit_rewrite("reorg_purge", man, hot, new_files)
        return v, len(hot), len(cold)

    def compact(self, target_files: int = 4, order_by=None) -> tuple[int, int]:
        """OPTIMIZE: bin-pack the current file set into ``target_files``
        range-clustered files as a new version — logical content
        unchanged, old snapshots untouched (their manifests still
        reference the original files). Returns (new_version,
        files_before). The small-file problem this solves is the #1
        operational issue of high-frequency ingestion at scale; doing
        it as a COMMIT (not an in-place rewrite) is what keeps
        concurrent readers consistent.

        ``order_by`` (a Column expression, default ``stats_col``) is the
        clustering key: files are range-partitioned AND sorted on it, so
        passing a Morton interleave of several dimensions makes this
        OPTIMIZE ZORDER — every output file covers a small rectangle of
        the interleaved key space, and the manifest's per-file
        ``stats_col`` min/max tighten as a side effect. The key affects
        LAYOUT only; content is byte-for-byte the same rows."""
        man = self.manifest()
        entries, cmap = man["files"], man.get("columns")
        stats_phys = self._phys(self.stats_col, cmap)
        v = man["version"] + 1  # snapshot pin — see rename_column
        df = self._read_files(entries, man=man)
        if order_by is None:
            key = stats_phys
        else:
            # A caller-supplied clustering expression references
            # LOGICAL names: sort the logical view, stage back to the
            # frozen physical schema.
            key, df = order_by, self._to_logical(df, cmap)
        df = df.repartitionByRange(target_files, key).sortWithinPartitions(key)
        staged = (
            self._stage_files(df, v, stats_col=stats_phys)
            if order_by is None
            else self._stage_logical(df, v, man)[0]
        )
        v = self._commit_rewrite("compact", man, entries, staged)
        return v, len(entries)

    def read_changes(self, from_version: int, to_version: int) -> DataFrame:
        """Incremental read (CDC-lite): rows in files ADDED between the
        two versions — exactly the new data for append-only flows, and
        the rewritten-file contents for merge/delete flows (coarser
        than row-level CDC, the same granularity Iceberg incremental
        scans give). File identity is the manifest path: carried-by-
        reference files never reappear in a changes read."""
        old = {e["path"] for e in self.manifest(from_version)["files"]}
        to_man = self.manifest(to_version)
        new = [e for e in to_man["files"] if e["path"] not in old]
        if not new:
            return self._read_files(
                to_man["files"], man=to_man
            ).limit(0)
        return self._read_files(new, man=to_man)

    def read_changes_rows(
        self, from_version: int, to_version: int
    ) -> DataFrame:
        """Row-level CDC (Delta Change-Data-Feed-lite): walk every
        commit in ``(from_version, to_version]`` and emit
        ``(_change_type, *data columns)`` rows:

        Three uniform rules per commit (they compose — a merge-on-read
        UPDATE is rule 2 + rule 3 in one commit):

        1. Layout-only ops (``compact``/``compact_small``/
           ``reorg_purge``): content-preserving by contract → nothing
           emitted. A ``restore-rollback`` is NOT content-preserving —
           it reverts its restore's content change — so the
           restore+rollback PAIR is skipped atomically when both fall
           inside the window (net no-op: the rollback re-publishes the
           pre-restore file set verbatim); a window that would split
           the pair is refused (round-7 advice, low: skipping the
           rollback alone left the restore's rows uncompensated, so
           the feed no longer folded to the end-version state — and a
           window STARTING at the rolled-back restore has an unreadable
           base snapshot by construction, its files being exactly the
           vacuumed ones that forced the rollback).
        2. Files REMOVED from the manifest → their live rows (as of
           v−1) as ``delete``; files ADDED → their rows (as committed)
           as ``insert``. For copy-on-write rewrites (``merge``/
           ``delete``/``restore``) unchanged rows in a rewritten file
           appear as delete+insert pairs (the carryover noise Iceberg
           changelog scans document; exact per-row diffing of rewrites
           needs a row-tracking id, out of scope).
        3. Entries whose DELETION VECTOR changed → the sidecar DELTA
           (this commit's vector rows minus the previous version's)
           joined back to the data files for the row VALUES →
           ``delete`` (exact row-level — the payoff of deletion
           vectors: CoW rewrites lose row identity, DVs keep it).

        Every step is manifest metadata plus scans of only the files
        that changed in that commit — never the whole table."""
        committed = set(self.versions())

        def _restore_target(op_str: str, prefix: str) -> int | None:
            """The parenthesized restore-target version in an op string
            (``restore(7)`` / ``restore-rollback(7)``), or None. A
            rollback only PAIRS with a restore whose target matches —
            adjacency + prefix alone would mis-pair a rebased rollback
            that happened to land right after an UNRELATED successful
            restore, silently dropping that racer's real content change
            from the feed (round-8 ADVICE)."""
            if not op_str.startswith(prefix + "("):
                return None
            inner = op_str[len(prefix) + 1 : op_str.find(")")]
            return int(inner) if inner.isdigit() else None

        parts: list[DataFrame] = []
        for v in range(from_version + 1, to_version + 1):
            man, prev = self.manifest(v), self.manifest(v - 1)
            op = man.get("op", "")
            if op in ("compact", "compact_small", "reorg_purge"):
                continue
            rb_tgt = _restore_target(op, "restore-rollback")
            if rb_tgt is not None and _restore_target(
                prev.get("op", ""), "restore"
            ) == rb_tgt:
                # ADJACENT pair (the rollback's first-attempt version):
                # nets to a no-op with its restore at v-1. A pair split
                # at the window base means the base snapshot is the
                # rolled-back restore — unreadable by construction.
                if v - 1 <= from_version:
                    raise ValueError(
                        f"CDC window starts at rolled-back restore "
                        f"v{v - 1}: its snapshot references vacuumed "
                        f"files; start the window at v{v} or earlier "
                        f"than v{v - 1}"
                    )
                continue
            # A NON-adjacent rollback (the rebased-retry path: racer
            # commits landed between the broken restore and the
            # rollback) falls through to the uniform rules — its
            # removed files are the vacuumed ones, so the scan
            # surfaces FileNotFound, which is honest: no CDC feed can
            # reconstruct rows whose bytes were already collected.
            r_tgt = _restore_target(op, "restore")
            if (
                r_tgt is not None
                and v + 1 in committed
                and v + 1 <= to_version
                and _restore_target(
                    self.manifest(v + 1).get("op", ""), "restore-rollback"
                ) == r_tgt
            ):
                continue  # skipped atomically with its rollback above
            prev_paths = {e["path"] for e in prev["files"]}
            cur_paths = {e["path"] for e in man["files"]}
            removed = [
                e for e in prev["files"] if e["path"] not in cur_paths
            ]
            added = [
                e for e in man["files"] if e["path"] not in prev_paths
            ]
            if removed:
                parts.append(
                    self._read_files(removed, man=prev).select(
                        F.lit("delete").alias("_change_type"), "*"
                    )
                )
            if added:
                parts.append(
                    self._read_files(added, man=man).select(
                        F.lit("insert").alias("_change_type"), "*"
                    )
                )
            d = self._dv_delta_rows(prev["files"], man["files"], man=man)
            if d is not None:
                parts.append(
                    d.select(F.lit("delete").alias("_change_type"), "*")
                )
        if not parts:
            return self.read(to_version).limit(0).select(
                F.lit("").alias("_change_type"), "*"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        # Physical rows from every commit, presented under the END
        # version's logical schema (Delta CDF does the same under
        # column mapping: stable physical ids, one output schema).
        return self._to_logical(
            out, self._cmap(self.manifest(to_version)),
            extra=("_change_type",),
        )

    def _dv_delta_rows(
        self,
        prev_entries: list[dict],
        cur_entries: list[dict],
        man: Optional[dict] = None,
    ) -> Optional[DataFrame]:
        """The data rows deleted by one commit's vector changes: this
        version's sidecar rows minus the previous version's (both
        KB-scale reads), joined back to the hit data files for the row
        values — one scan of only the hit files. Only entries present
        in BOTH manifests count: an entry that entered the manifest in
        this commit (restore, clone) had its DV already applied to its
        ``insert`` rows, so emitting its vector as deletes would
        double-subtract."""
        prev_by_path = {e["path"]: e for e in prev_entries}
        prev_dv = {
            self._dv_key(e): e["dv"]["path"]
            for e in prev_entries
            if e.get("dv")
        }
        hit = [
            e for e in cur_entries
            if e.get("dv")
            and e["path"] in prev_by_path
            and prev_dv.get(self._dv_key(e)) != e["dv"]["path"]
        ]
        if not hit:
            return None
        cur_rows = self._dv_rows(hit)
        hit_keys = {self._dv_key(h) for h in hit}
        prev_hit = [
            e for e in prev_entries
            if e.get("dv") and self._dv_key(e) in hit_keys
        ]
        if prev_hit:
            prev_rows = self._dv_rows(prev_hit)
            cur_rows = cur_rows.join(
                F.broadcast(prev_rows),
                (cur_rows["__fp"] == prev_rows["__fp"])
                & (cur_rows["__ri"] == prev_rows["__ri"]),
                "left_anti",
            )
        scan = self._scan_identity(hit, man=man)
        return scan.join(
            F.broadcast(cur_rows),
            (scan["__fp"] == cur_rows["__fp"])
            & (scan["__ri"] == cur_rows["__ri"]),
            "left_semi",
        ).drop("__fp", "__ri")

    def delete_where(self, pred) -> tuple[int, int, int]:
        """DELETE rows matching ``pred`` (a Column). Returns
        (new_version, files_rewritten, files_carried).

        Every file is *probed* with a metadata-cheap anti-count — but
        only files that actually contain matches are rewritten; the
        probe prunes with the predicate pushed to the parquet scan, so
        a selective predicate touches few row groups. The probe rides
        ``_metadata.file_path`` attached per scan branch (not
        ``input_file_name()``, which Spark refuses over the multi-source
        union a DV'd snapshot reads as) and sees the LIVE view — a file
        whose only matches are already DV-deleted is not rewritten."""
        man = self.manifest()
        entries, cmap = man["files"], man.get("columns")
        by_uri = {self._fp_uri(e): e["path"] for e in entries}
        probe = (
            self._to_logical(
                self._read_files(entries, with_fp=True, man=man), cmap,
                extra=("__fp",),
            )
            .filter(pred)
            .groupBy("__fp")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        hit = {by_uri[r["__fp"]] for r in probe}
        touched = [e for e in entries if e["path"] in hit]
        untouched = [e for e in entries if e["path"] not in hit]
        v = man["version"] + 1  # snapshot pin — see rename_column
        files = list(untouched)
        if touched:
            # SQL DELETE semantics: remove rows where pred is TRUE; rows
            # where it is FALSE **or NULL** survive (plain ~pred would
            # drop the NULLs too).
            kept = self._to_logical(
                self._read_files(touched, man=man), cmap
            ).filter(F.coalesce(~pred, F.lit(True)))
            files += self._stage_logical(kept, v, man)[0]
        self._commit(v, "delete", files)
        return v, len(touched), len(untouched)

    def delete_where_dv(self, pred) -> tuple[int, int, int]:
        """DELETE rows matching ``pred`` merge-on-read: instead of
        rewriting every file that contains a match (``delete_where``'s
        copy-on-write), write one tiny DELETION-VECTOR sidecar listing
        the deleted rows' identities ``(file path, parquet row ordinal)``
        and point the hit files' manifest entries at it — zero data
        files rewritten. Returns (new_version, files_marked,
        rows_deleted); a no-match delete commits nothing.

        This is the Delta/Iceberg deletion-vector trade, and the only
        DELETE that survives 100 TB ergonomics: deleting 0.001% of rows
        scattered across every file (a GDPR erasure, a bad-record
        purge) costs O(matches) sidecar bytes instead of O(table)
        rewrite I/O. Reads apply the DV as one broadcast anti-join
        (``_read_files``); the next compaction materializes it away.

        Mechanics: the live snapshot is scanned WITH row identity and
        existing DVs applied (so re-deleting an already-deleted row is
        a no-op and never double-counts); the new sidecar carries the
        fresh matches PLUS the hit files' previous DV rows (DV merge —
        an entry always references ONE sidecar covering all its deleted
        rows, so carried-forward entries stay self-contained). SQL
        DELETE null semantics hold: pred-NULL rows survive.

        Caveats shared with the real formats: ``read_changes`` keys on
        file identity, so a DV delete is invisible to file-level CDC
        (Iceberg documents the same for positional deletes); ``rows``
        in the manifest stays the PHYSICAL footer count — live rows are
        ``rows - dv.deleted``."""
        man = self.manifest()
        # Collect-first: the full probe scan runs ONCE, streaming the
        # matches to the driver as Arrow batches (toArrow) — a
        # coalesce(1) staging write would collapse the probe scan into
        # one task. Everything after is KB-scale sidecar work
        # (per-file counts, prior-DV merge) and runs DRIVER-SIDE in
        # Arrow, the same class of metadata work as the manifest JSON
        # itself. A delete whose match set is too big for driver
        # memory is rewrite-shaped and belongs to delete_where() (the
        # documented contract). The matched URIs map to their DV keys
        # here too, on the driver.
        hits = self._dv_probe(man, pred).select("__fp", "__ri").toArrow()
        if not hits.num_rows:
            return self.latest_version(), 0, 0
        return self._dv_commit("delete_dv", man, self._dv_fresh(man, hits))

    def _dv_probe(self, man: dict, pred) -> DataFrame:
        """The live rows of ``man`` matching ``pred``, for the DV ops.
        Rows carry their identity (``__fp``, ``__ri``) with existing DVs
        applied, so re-deleting an already-deleted row is a no-op and
        never double-counts; ``pred`` sees logical names. The caller
        collects the matches and maps their URIs to DV keys
        (``_dv_fresh``), keeping the scan join-free."""
        scan = self._to_logical(
            self._live_scan(man["files"], man), man.get("columns"),
            extra=("__fp", "__ri"),
        )
        return scan.filter(pred)

    def _dv_commit(
        self, op: str, man: dict, fresh, extra: list[dict] = ()
    ) -> tuple[int, int, int]:
        """Commit ``op`` on top of ``man``: ``fresh`` (Arrow
        ``path``/``row_index``, the newly deleted rows keyed by DV key)
        is published as ONE sidecar together with the hit files'
        previous vectors (DV merge — an entry always references one
        sidecar covering all its deleted rows, so carried-forward
        entries stay self-contained), the hit entries point at it, and
        ``extra`` staged files ride along. Returns (version,
        files_marked, rows_marked)."""
        import uuid as _uuid

        per_file = _value_counts(fresh, "path")
        hit = set(per_file)  # DV keys of the files hit this round
        dv_rel = os.path.join(
            "dv",
            f"dv-v{man['version'] + 1:010d}-{_uuid.uuid4().hex[:8]}.parquet",
        )
        carry_dvs = sorted(
            {
                e["dv"]["path"] for e in man["files"]
                if e.get("dv") and self._dv_key(e) in hit
            }
        )
        os.makedirs(os.path.join(self.path, "dv"), exist_ok=True)
        _write_sidecar(
            self.path, dv_rel, fresh,
            [os.path.join(self.path, p) for p in carry_dvs], hit,
        )

        def patched(m: dict) -> tuple[list[dict], Any]:
            out = []
            for e in m["files"]:
                key = self._dv_key(e)
                if key in hit:
                    prev = e.get("dv", {}).get("deleted", 0)
                    e = {
                        **e,
                        "dv": {
                            "path": dv_rel,
                            "key": key,
                            "deleted": prev + per_file[key],
                        },
                    }
                out.append(e)
            return out + list(extra), TxnTable._CARRY

        v = self._commit_retrying(
            op, man, patched,
            lambda m: [e for e in m["files"] if self._dv_key(e) in hit],
            11, man.get("schema") or {},
        )
        return v, len(hit), sum(per_file.values())

    def update_where_dv(self, pred, set_exprs: dict) -> tuple[int, int, int]:
        """Merge-on-read UPDATE: DV-delete the matched rows' positions
        and append their updated copies — ONE atomic commit, ZERO
        existing data files rewritten (Delta's deletion-vector UPDATE /
        Iceberg merge-on-read row updates). ``set_exprs`` maps column
        name → Column expression evaluated on the matched rows.
        Returns (new_version, files_marked, rows_updated); no matches
        commits nothing.

        One table scan total: the matched rows (identity + data
        columns) stream to the DRIVER as one Arrow table, which then
        feeds BOTH the sidecar (old positions) and the updated-row
        append. The driver-memory bound is therefore the TOTAL matched
        bytes (all data columns), not just the id sidecar — wide rows
        tighten the practical limit accordingly (r13 ADVICE). That is
        within the documented KB/MB-scale match-set contract; an
        update whose matches approach driver memory belongs to the
        rewrite-shaped copy-on-write path, same as ``delete_where``.
        Updating 0.001% of a 100 TB table costs O(matches) I/O
        where copy-on-write rewrites every hit file. Reads see old
        positions anti-joined away and new rows appended; the read tax
        and its compaction cure are the same as ``delete_where_dv``'s.
        Pred-NULL rows are not updated (SQL UPDATE
        semantics). CDC (``read_changes_rows``) reports each updated
        row as an exact pre-image ``delete`` + post-image ``insert``."""
        man = self.manifest()
        cmap = man.get("columns")
        # Collect-first (same as delete_where_dv): the matched set is
        # KB/MB-scale by contract, so it streams to the driver as Arrow
        # once. Only the updated-row APPEND below goes back through
        # Spark — it writes data files from the Arrow-backed local
        # relation.
        staged_all = self._dv_probe(man, pred).toArrow()
        if not staged_all.num_rows:
            return self.latest_version(), 0, 0
        # The sidecar carries the staged rows' old positions.
        fresh = self._dv_fresh(man, staged_all)
        # coalesce(1) restores the op's contract that the updated
        # copies append as ONE new file: a local Arrow relation
        # parallelizes across default-parallelism partitions, and
        # _stage_files writes one file per partition.
        staged = self.spark.createDataFrame(staged_all).coalesce(1)
        data_cols = [c for c in staged.columns if c not in ("__fp", "__ri")]
        bad = sorted(set(set_exprs) - set(data_cols))
        if bad:
            raise ValueError(f"update_where_dv: unknown column(s) {bad}")
        updated = staged.select(
            *[
                (set_exprs[c] if c in set_exprs else F.col(c)).alias(c)
                for c in data_cols
            ]
        )
        # Delta UPDATE parity: a SET expression whose type differs from
        # the column's existing type is CAST to it (an INT literal
        # against a BIGINT column must not stage an INT file — one such
        # file breaks every later schema-merged read; found by the
        # round-10 model-lifecycle test). The cast TARGET is the
        # manifest type registry — the type _commit's fold will hold
        # this staging to — falling back to the staged scan type only
        # for unregistered columns (round-10 ADVICE #3: on a legacy
        # table the footer-resolved scan type can differ from the
        # registered one, and deriving the target from the scan then
        # refuses the commit AFTER the sidecar and updated-row files
        # were written). The schema probe is analysis only (no job);
        # when every type already matches, the plan is untouched.
        reg = man.get("schema") or {}
        pre = {
            f.name: reg.get(
                self._phys(f.name, cmap), f.dataType.simpleString()
            )
            for f in staged.schema.fields
        }
        drift = [
            c for c in set_exprs
            if updated.schema[c].dataType.simpleString() != pre[c]
        ]
        if drift:
            updated = updated.select(
                *[
                    F.col(c).cast(pre[c]).alias(c) if c in drift
                    else F.col(c)
                    for c in data_cols
                ]
            )
        new_files, _ = self._stage_logical(updated, man["version"] + 1, man)
        return self._dv_commit("update_dv", man, fresh, new_files)
