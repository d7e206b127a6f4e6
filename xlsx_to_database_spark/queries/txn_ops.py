"""Transactional-table ops: the txn-log table format
(:mod:`xlsx_to_database_spark.operators.txn_table`) surfaced as
oracle-checked registry ops: MERGE, deletion vectors, time travel,
VACUUM, clones, constraints, checkpoints and compaction."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators.global_order import _orders_morton_key
from xlsx_to_database_spark.operators.txn_table import (
    CheckViolation,
    ConcurrentWriteError,
    TxnTable,
)
from xlsx_to_database_spark.queries import stage
from xlsx_to_database_spark.registry import query


@query(
    "table_merge_upsert",
    """
    SELECT c_custkey, c_name, c_nationkey,
           round(c_acctbal + CASE WHEN c_custkey <= 150
                                   AND c_custkey % 3 = 0
                                  THEN 1000 ELSE 0 END, 2) AS c_acctbal,
           c_mktsegment
    FROM customer
    UNION ALL
    SELECT c_custkey + 1000000, c_name, c_nationkey,
           round(c_acctbal, 2) AS c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey <= 20
    """,
)
def table_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional MERGE on the txn-log table format
    (operators/txn_table.py) — the ACID answer to `etl_upsert`'s
    full-rewrite emulation. The table is created range-clustered on the
    key, then (1) an UPDATE batch confined to keys ≤ 150 merges in —
    manifest min/max pruning rewrites only the file(s) whose stats
    range intersects [3, 150], carrying the rest by reference with zero
    I/O (file-level copy-on-write, the Delta/Iceberg trick that keeps
    100 TB MERGEs proportional to the touched keys) — and (2) an
    INSERT batch beyond the table's max key merges as a pure append
    (zero files rewritten). The returned final state must hash-match
    the oracle's declarative reconstruction; the pruning counters are
    pinned in tests/test_operators.py.

    Fixture discipline (round-7 verdict #4): the range-clustered base
    table is staged once (stage.staged_copy); each
    invocation merges into a fresh OS-level copy, so the wall-clock is
    the two MERGE commits + read-back, not the repeated create."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )

    def _build(root: str) -> None:
        TxnTable(spark, root, "c_custkey").create(
            c.repartitionByRange(4, "c_custkey")
        )

    root = stage.staged_copy(sf_dir, "txn_merge_v2", _build)
    tt = TxnTable(spark, root, "c_custkey")
    updates = c.filter(
        (F.col("c_custkey") <= 150) & (F.col("c_custkey") % 3 == 0)
    ).withColumn("c_acctbal", F.col("c_acctbal") + 1000)
    tt.merge(updates, "c_custkey")
    inserts = c.filter(F.col("c_custkey") <= 20).withColumn(
        "c_custkey", F.col("c_custkey") + 1000000
    )
    tt.merge(inserts, "c_custkey")
    return tt.read().select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment",
    )


@query(
    "table_time_travel",
    """
    SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS total
    FROM orders WHERE o_orderkey % 4 <> 0
    UNION ALL
    SELECT 1, CAST(count(*) AS BIGINT),
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2)
    FROM orders
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT),
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2)
    FROM orders WHERE o_orderkey % 10 <> 1
    """,
)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + time travel on the txn-log table format:
    create (v0, 3/4 of orders) → append (v1, the rest) → DELETE (v2,
    keys ≡ 1 mod 10), then read EVERY version by its manifest and
    aggregate each — proving old snapshots stay byte-identical after
    later commits (immutable data files + versioned file lists; reads
    resolve a manifest, never a directory listing). The DELETE is
    copy-on-write: only files containing matches are rewritten, with
    the predicate pushed into the probing parquet scan. Each commit is
    an atomic manifest rename (optimistic concurrency — the protocol
    Delta runs on object stores)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = stage.fresh(sf_dir, "txn_tt")
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(
        o.filter(F.col("o_orderkey") % 4 != 0).repartitionByRange(
            4, "o_orderkey"
        )
    )
    tt.append(o.filter(F.col("o_orderkey") % 4 == 0))
    tt.delete_where(F.col("o_orderkey") % 10 == 1)
    snaps = [
        tt.read(v).agg(
            F.lit(v).cast("int").alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double"), 2
            ).alias("total"),
        )
        for v in (0, 1, 2)
    ]
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionAll(s)
    return out


@query(
    "table_incremental_read",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders WHERE o_orderkey % 3 <> 0
    """,
)
def table_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (CDC-lite) read off the txn-log table format: three
    append commits partition orders by key mod 3; ``read_changes(0, 2)``
    must return EXACTLY the rows of the two later appends — resolved
    from manifest file-set differences (carried-by-reference files never
    reappear), zero data diffing. This is the consumer half of
    streaming ingestion at scale: downstream jobs tail the log and
    process only new files, never rescanning the table."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = stage.fresh(sf_dir, "txn_incr")
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(o.filter(F.col("o_orderkey") % 3 == 0))
    tt.append(o.filter(F.col("o_orderkey") % 3 == 1))
    tt.append(o.filter(F.col("o_orderkey") % 3 == 2))
    return tt.read_changes(0, 2).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@query(
    "table_schema_evolution",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS price,
           CASE WHEN o_orderkey % 2 = 0 THEN NULL
                ELSE o_orderstatus END AS status_tag
    FROM orders
    """,
)
def table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution on the txn-log table format: the table
    is created WITHOUT ``status_tag``, a later append carries it, and
    reads merge the parquet footers (`mergeSchema`) so pre-evolution
    files surface NULL — history is never rewritten. A final
    ``compact()`` (OPTIMIZE) bin-packs the mixed-schema file set into
    range-clustered files as a NEW COMMIT and must leave the logical
    content — including the evolved NULLs — bit-identical, while old
    snapshots keep resolving their original manifests."""
    o = table(spark, sf_dir, "orders")
    root = stage.fresh(sf_dir, "txn_evolve")
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", F.col("o_totalprice").alias("price")
        )
    )
    tt.append(
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.col("o_orderstatus").alias("status_tag"),
        )
    )
    tt.compact(target_files=4)
    return tt.read().select(
        "o_orderkey", F.round("price", 2).alias("price"), "status_tag"
    )


@query(
    "table_zorder_optimize",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    WHERE o_custkey % 3 = 2
      AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-07-01'
    """,
)
def table_zorder_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER as a transactional commit — `parquet_zorder_sink`
    proves the Morton layout; this op runs the same re-clustering AS A
    VERSIONED COMMIT on the txn-log table format (what Delta ships as
    `OPTIMIZE ... ZORDER BY`): the table is created hash-distributed
    (the worst layout — every file spans the full key space, the state
    real ingestion leaves behind), then `compact(order_by=morton_key)`
    rewrites it range-partitioned + sorted on the interleaved
    (custkey, orderdate) code as version 1, old snapshot untouched and
    still readable. Content integrity is the oracle (a two-predicate
    aggregate over the POST-OPTIMIZE read must match the source);
    the 2-D span narrowing and snapshot immutability are pinned in
    tests/test_txn_table.py. The quantization (min, max) scalars are 4
    driver-side values from one metadata aggregate, and the Morton key
    is the same pure codegen expression chain as the sink op — layout
    only, never part of row values."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    root = stage.fresh(sf_dir, "txn_zorder")
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(o.repartition(8))
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
    lo_c, hi_c, lo_d, hi_d = o.agg(
        F.min("o_custkey"), F.max("o_custkey"), F.min(day), F.max(day)
    ).collect()[0]

    tt.compact(
        target_files=8, order_by=_orders_morton_key(lo_c, hi_c, lo_d, hi_d)
    )
    return (
        tt.read()
        .filter(
            (F.col("o_custkey") % 3 == 2)
            & (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-07-01"))
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total"),
        )
    )


@query(
    "table_restore",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS total
    FROM orders
    """,
)
def table_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy RESTORE on the txn-log table: create (v0 = full
    orders) → delete a slice (v1) → append noise (v2) → RESTORE v0
    (v3) — the "undo the bad deploy" button. The restore commit
    re-references v0's file entries verbatim: no data I/O, O(manifest)
    cost at ANY table size, and v1/v2 stay readable (history is
    append-only; VACUUM, not RESTORE, retires their files). The final
    read must hash-match the ORIGINAL table exactly — proving the
    round-trip through damage and restore is lossless."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = stage.fresh(sf_dir, "table_restore")
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(o.repartitionByRange(4, "o_orderkey"))
    tt.delete_where(F.col("o_orderkey") % 5 == 0)          # the bad deploy
    tt.append(o.limit(7).withColumn("o_orderkey",          # and its noise
                                    F.col("o_orderkey") + 9000000))
    v = tt.restore(0)
    assert tt.manifest(v)["op"] == "restore(0)"
    return tt.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total"),
    )


@query(
    "table_vacuum",
    """
    WITH merged AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey BETWEEN 200 AND 299
                  THEN CAST(2 * CAST(o_totalprice AS DECIMAL(18,2))
                            AS DECIMAL(18,2))
                  ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
      FROM orders
    )
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(price) AS DOUBLE), 2) AS total
    FROM merged GROUP BY o_orderstatus
    """,
)
def table_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM on the txn-log table: create (v0 = orders, range-clustered
    into 4 files) → MERGE a doubled-price slice (v1 — copy-on-write
    rewrites ONLY the files whose stats range intersects [200, 299],
    carrying the rest by reference) → VACUUM retaining just the newest
    version. Vacuum deletes exactly the files referenced by v0 alone
    (the pre-merge images of the rewritten files); the files v1 carried
    by reference survive because liveness is computed over RETAINED
    MANIFESTS, not over version ancestry. The final read must
    hash-match the logical merge result — proving vacuum is physical
    garbage collection with zero logical effect.

    Scale shape: liveness is a driver-side set over manifest entries
    (O(files), metadata); deletion is file-system unlink, no data scan.
    This is Delta VACUUM's exact trade — time-travel horizon = retention
    — and the missing maintenance half without which every MERGE leaks
    its pre-images forever (a 100 TB table under daily upserts doubles
    its storage in weeks without it)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    root = stage.fresh(sf_dir, "table_vacuum")
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(o.repartitionByRange(4, "o_orderkey"))
    src = o.filter(F.col("o_orderkey").between(200, 299)).withColumn(
        "price", (F.lit(2) * F.col("price")).cast("decimal(18,2)")
    )
    _, rewritten, carried = tt.merge(src, "o_orderkey")
    assert rewritten >= 1 and carried >= 1, "merge must prune files"
    deleted, kept = tt.vacuum(retain_versions=1)
    assert deleted >= 1, "vacuum must collect the merge's pre-images"
    return tt.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("price").cast("double"), 2).alias("total"),
    )


@query(
    "table_clone",
    """
    WITH merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey BETWEEN 500 AND 599
                  THEN CAST(2 * CAST(o_totalprice AS DECIMAL(18,2))
                            AS DECIMAL(18,2))
                  ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(price) AS DOUBLE), 2) AS clone_total
    FROM merged
    """,
)
def table_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE on the txn table: clone orders (zero-copy — the
    clone's v0 manifest references the source's files by relative
    path), MERGE a doubled-price slice INTO THE CLONE, and verify the
    clone shows the merge while the SOURCE is bit-identical to its
    pre-clone state (asserted in-op). The dev/test-against-production
    workflow every table format grew clones for: experiments on a
    100 TB table cost O(manifest) to set up and copy-on-write only what
    the experiment touches.

    Returned frame is the clone's post-merge content (the oracle
    recomputes it relationally); the source-unchanged half is a
    driver-side scalar comparison (1 row collected, metadata cost)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    src_root = stage.fresh(sf_dir, "table_clone_src")
    cl_root = stage.fresh(sf_dir, "table_clone_dst")
    src = TxnTable(spark, src_root, "o_orderkey")
    src.create(o.repartitionByRange(4, "o_orderkey"))

    def digest(t):
        return t.read().agg(
            F.count(F.lit(1)), F.sum("price")
        ).collect()[0]

    before = digest(src)
    clone = src.clone_to(cl_root)
    upd = o.filter(F.col("o_orderkey").between(500, 599)).withColumn(
        "price", (F.lit(2) * F.col("price")).cast("decimal(18,2)")
    )
    _, rewritten, carried = clone.merge(upd, "o_orderkey")
    assert rewritten >= 1 and carried >= 1, "clone merge must prune files"
    assert digest(src) == before, "source mutated through its clone"
    assert src.latest_version() == 0, "clone commit leaked into source log"
    return clone.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("price").cast("double"), 2).alias("clone_total"),
    )


@query(
    "table_check_constraint",
    """
    WITH good AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey < 1000
    ), appended AS (
      SELECT o_orderkey + 5000000 AS o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1
                  AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey < 100
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(price) AS DOUBLE), 2) AS total
    FROM (SELECT * FROM good UNION ALL SELECT * FROM appended)
    """,
)
def table_check_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time CHECK constraints on the txn table (Delta CHECK
    invariant semantics: every row must evaluate TRUE, so NULL rejects
    — deliberately stricter than standard SQL CHECK, where UNKNOWN
    passes): a batch containing a violating row is rejected ATOMICALLY
    (no partial commit, log untouched), while a clean batch commits. Enforcement at write time is the scale choice: one
    aggregate over each incoming batch, instead of every reader
    re-validating 100 TB forever.

    The op creates a table, proves a poisoned append raises and leaves
    the version unchanged, then lands a clean append; the final read
    hash-matches the oracle's relational reconstruction."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    root = stage.fresh(sf_dir, "table_check")
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(o.filter(F.col("o_orderkey") < 1000))
    chk = F.col("price") > 0
    poisoned = o.filter(F.col("o_orderkey") < 100).withColumn(
        "price",
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None)).otherwise(
            -F.col("price")
        ).cast("decimal(18,2)"),
    )
    try:
        tt.append(poisoned, check=chk)
        raise AssertionError("poisoned append must be rejected")
    except CheckViolation:
        pass
    assert tt.latest_version() == 0, "rejected append must not commit"
    clean = o.filter(F.col("o_orderkey") < 100).select(
        (F.col("o_orderkey") + 5000000).alias("o_orderkey"),
        (F.col("price") + 1).cast("decimal(18,2)").alias("price"),
    )
    tt.append(clean, check=chk)
    return tt.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("price").cast("double"), 2).alias("total"),
    )


@query(
    "table_history",
    """
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'create', CAST(4 AS BIGINT), false),
      (CAST(1 AS BIGINT), 'append', CAST(6 AS BIGINT), false),
      (CAST(2 AS BIGINT), 'delete', CAST(6 AS BIGINT), false),
      (CAST(3 AS BIGINT), 'compact', CAST(2 AS BIGINT), true)
    ) AS t(version, op, n_files, is_latest)
    """,
)
def table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY for the txn table: one row per committed
    version with its operation and referenced-file count — the
    operational observability surface every table format exposes
    (what happened, when, and how the file count evolved: the
    append-grows / compact-shrinks rhythm is how operators SEE the
    small-file problem). Built from the manifests alone — O(versions)
    driver-side metadata, zero data I/O.

    The scenario (create 4 files → append 2 → delete a slice
    (in-range file rewritten 1:1) → compact to 2) is deterministic, so
    the oracle pins the exact expected history — including that
    history is append-only: all four versions remain listed after
    compaction."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    root = stage.fresh(sf_dir, "table_history")
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(o.filter(F.col("o_orderkey") < 800)
              .repartitionByRange(4, "o_orderkey"))
    tt.append(
        o.filter(F.col("o_orderkey").between(800, 999))
        .repartitionByRange(2, "o_orderkey")
    )
    tt.delete_where(F.col("o_orderkey").between(100, 150))
    tt.compact(target_files=2)
    latest = tt.latest_version()
    rows = [
        (v, tt.manifest(v)["op"], len(tt.manifest(v)["files"]),
         v == latest)
        for v in tt.versions()
    ]
    return spark.createDataFrame(
        rows, "version long, op string, n_files long, is_latest boolean"
    )


@query(
    "table_optimistic_retry",
    """
    WITH base AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey < 500
    ), racer AS (
      SELECT o_orderkey + 7000000 AS o_orderkey, price
      FROM base WHERE o_orderkey < 50
    ), mine AS (
      SELECT o_orderkey + 8000000 AS o_orderkey, price
      FROM base WHERE o_orderkey < 80
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(price) AS DOUBLE), 2) AS total
    FROM (SELECT * FROM base UNION ALL SELECT * FROM racer
          UNION ALL SELECT * FROM mine)
    """,
)
def table_optimistic_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic-concurrency LOSE-AND-RETRY on the txn table — the
    protocol's documented conflict model exercised end to end: writer A
    reads version N and prepares an append; a RACER commits N+1 first;
    A's commit raises ConcurrentWriteError; A re-reads latest and
    retries, landing N+2. Both writers' rows survive — the retry loop
    is what turns a lost race into eventual success rather than lost
    data (on object stores the rename becomes put-if-absent; the loop
    is identical).

    The race is staged deterministically by committing the racer's
    version between A's read and A's commit. Final read hash-matches
    the three-way union oracle; in-op asserts pin the failure, the
    version numbers, and the retry's success."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    base = o.filter(F.col("o_orderkey") < 500)
    root = stage.fresh(sf_dir, "table_retry")
    tt = TxnTable(spark, root, "o_orderkey")
    tt.create(base.repartitionByRange(2, "o_orderkey"))

    mine = base.filter(F.col("o_orderkey") < 80).select(
        (F.col("o_orderkey") + 8000000).alias("o_orderkey"), "price"
    )
    racer = base.filter(F.col("o_orderkey") < 50).select(
        (F.col("o_orderkey") + 7000000).alias("o_orderkey"), "price"
    )
    # Writer A reads at version 0 and stages its files. Staging goes to
    # a writer-unique scratch number (999): data files are immutable and
    # referenced BY PATH, so the commit's version number and the staging
    # directory's name are independent — exactly why two racing writers
    # can both stage safely before only one wins the rename.
    read_version = tt.latest_version()
    staged = tt._stage_files(mine, 999)
    files_at_read = tt.manifest(read_version)["files"]
    # ...but the racer commits version 1 first.
    tt.append(racer)
    try:
        tt._commit(read_version + 1, "append", files_at_read + staged)
        raise AssertionError("conflicting commit must be rejected")
    except ConcurrentWriteError:
        pass
    # Retry against the NEW latest: carry the racer's manifest forward.
    v = tt.latest_version() + 1
    tt._commit(v, "append", tt.manifest()["files"] + staged)
    assert v == 2 and tt.latest_version() == 2
    return tt.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("price").cast("double"), 2).alias("total"),
    )


@query(
    "table_txn_checkpoint",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS total_price,
           7 AS n_versions,
           1 AS n_checkpoints,
           2 AS n_replays_skipped
    FROM orders
    """,
)
def table_txn_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingestion THROUGH a txn-log checkpoint, end to end:
    six producers `append_once` disjoint orders slices (o_orderkey % 6)
    at checkpoint_interval=5, so a ckpt-v5 checkpoint lands mid-stream;
    two tokens are then REPLAYED — one from behind the checkpoint's
    coverage, one at its boundary — and both must no-op via the
    checkpoint+tail scan (operators/txn_table.py::_txn_ids_before). The
    op returns the read-back aggregate of the final table, hash-matched
    against the orders table itself (exactly-once ⇒ every order row
    exactly once), plus the protocol counters, all deterministic:
    7 versions (create + 6 appends — replays add none), 1 checkpoint,
    2 skipped replays.

    Scale: the checkpoint keeps a streaming sink's idempotence scan
    O(interval) instead of O(commits) — measured 370 → 21 ms per commit
    at 800 versions (SCALE.md round-7). The read-back aggregate is one
    shuffle over the files Spark wrote; everything else is manifest
    metadata."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = stage.fresh(sf_dir, "txn_ckpt")
    t = TxnTable(spark, root, "o_orderkey", checkpoint_interval=5)
    t.create(orders.limit(0))
    for i in range(6):
        t.append_once(
            orders.filter(F.col("o_orderkey") % 6 == i), f"slice-{i}"
        )
    ck = t._latest_checkpoint()
    n_ckpts = 1 if (ck is not None and ck["version"] == 5) else 0
    skipped = sum(
        t.append_once(
            orders.filter(F.col("o_orderkey") % 6 == i), f"slice-{i}"
        ) is None
        for i in (2, 5)
    )
    return (
        t.read()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double"), 2
            ).alias("total_price"),
        )
        .withColumn("n_versions", F.lit(t.latest_version() + 1))
        .withColumn("n_checkpoints", F.lit(n_ckpts))
        .withColumn("n_replays_skipped", F.lit(skipped))
    )


@query(
    "table_delete_vectors",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS total_price,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_orderkey % 7 = 3) AS rows_deleted_1,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_orderkey % 11 = 5 AND o_orderkey % 7 <> 3)
             AS rows_deleted_2,
           4 AS files_marked_1,
           4 AS files_marked_2,
           0 AS data_files_changed
    FROM orders
    WHERE NOT (o_orderkey % 7 = 3 OR o_orderkey % 11 = 5)
    """,
)
def table_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors, end to end: orders
    lands as 4 range-clustered files, then two scattered deletes
    (o_orderkey % 7 = 3, then % 11 = 5 — every file is hit BOTH times)
    run as ``delete_where_dv``: each writes one tiny sidecar of
    (file key, row ordinal) pairs and rewrites ZERO data files
    (``data_files_changed`` compares the v0 and final manifests' data
    file sets — must be 0). The second delete exercises DV merging
    (already-deleted rows are not re-counted: rows_deleted_2 excludes
    the %7 overlap) and the read-back aggregate over the live view
    must hash-match batch SQL WHERE NOT (p1 OR p2) — a resurrected or
    over-deleted row anywhere changes it.

    Scale: this is THE DELETE that survives 100 TB ergonomics (GDPR
    erasure, bad-record purge): O(matches) sidecar bytes + one
    broadcast anti-join at read, vs copy-on-write's rewrite of every
    hit file — measured at 20M rows/64 files, a 200-row scattered
    delete writes a 2.8 KB sidecar where CoW rewrites 83.5 MB
    (~30,000× write amplification), at a ~3× full-scan read tax until
    the next compaction materializes the vectors away (SCALE.md
    round-7).

    Parity: Delta deletion vectors / Iceberg positional deletes
    (merge-on-read row-level operations).

    Fixture discipline (round-7 verdict #2/#4): the 4-file base table
    is staged once (stage.staged_copy) and each
    invocation works on a fresh OS-level copy, so the op's wall-clock
    is the two DV commits + the merge-on-read aggregate — the thing
    the headline number claims — not repeated Spark fixture writes."""
    def _build(root: str) -> None:
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        TxnTable(spark, root, "o_orderkey").create(
            orders.repartitionByRange(4, "o_orderkey")
        )

    root = stage.staged_copy(sf_dir, "txn_dv_v2", _build)
    t = TxnTable(spark, root, "o_orderkey")
    key = F.col("o_orderkey")
    _, marked1, deleted1 = t.delete_where_dv(key % 7 == 3)
    _, marked2, deleted2 = t.delete_where_dv(key % 11 == 5)
    data_v0 = {e["path"] for e in t.manifest(0)["files"]}
    data_now = {e["path"] for e in t.manifest()["files"]}
    changed = len(data_v0 ^ data_now)
    return (
        t.read()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double"), 2
            ).alias("total_price"),
        )
        .withColumn("rows_deleted_1", F.lit(deleted1).cast("long"))
        .withColumn("rows_deleted_2", F.lit(deleted2).cast("long"))
        .withColumn("files_marked_1", F.lit(marked1).cast("int"))
        .withColumn("files_marked_2", F.lit(marked2).cast("int"))
        .withColumn("data_files_changed", F.lit(changed).cast("int"))
    )


@query(
    "table_update_vectors",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CASE WHEN o_orderkey % 7 = 3
                     THEN 2 * CAST(o_totalprice AS DECIMAL(18,2))
                     ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
                 AS DOUBLE), 2) AS total_price,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_orderkey % 7 = 3) AS rows_updated,
           4 AS files_marked,
           0 AS data_files_removed
    FROM orders
    """,
)
def table_update_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE via deletion vectors: orders lands as 4
    range-clustered files, then a scattered UPDATE (o_orderkey % 7 = 3
    → price doubled — every file is hit) runs as ``update_where_dv``:
    old row positions go into a KB sidecar, updated copies append as
    ONE new file, and all 4 original data files survive untouched
    (``data_files_removed`` diffs the manifests — must be 0). The
    read-back aggregate over the live view must hash-match batch SQL
    with the equivalent CASE — a double-applied update, a resurrected
    pre-image, or a dropped non-match anywhere changes it.

    Scale: updating 0.001% of a 100 TB table costs O(matches) I/O
    (sidecar + one appended file) where copy-on-write rewrites every
    hit file; one table scan feeds both outputs. CDC reports each
    updated row as exact pre-image delete + post-image insert.
    Parity: Delta deletion-vector UPDATE / Iceberg merge-on-read row
    updates.

    Fixture discipline: shares table_delete_vectors' staged base (same
    4-file orders layout) via stage.staged_copy — the timed
    region is the UPDATE commit + read-back, not the repeated create."""
    def _build(root: str) -> None:
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        TxnTable(spark, root, "o_orderkey").create(
            orders.repartitionByRange(4, "o_orderkey")
        )

    root = stage.staged_copy(sf_dir, "txn_dv_v2", _build, work="txn_updv_v2")
    t = TxnTable(spark, root, "o_orderkey")
    _, marked, updated = t.update_where_dv(
        F.col("o_orderkey") % 7 == 3,
        {"o_totalprice": F.col("o_totalprice") * 2},
    )
    data_v0 = {e["path"] for e in t.manifest(0)["files"]}
    data_now = {e["path"] for e in t.manifest()["files"]}
    removed = len(data_v0 - data_now)
    return (
        t.read()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double"), 2
            ).alias("total_price"),
        )
        .withColumn("rows_updated", F.lit(updated).cast("long"))
        .withColumn("files_marked", F.lit(marked).cast("int"))
        .withColumn("data_files_removed", F.lit(removed).cast("int"))
    )


@query(
    "table_rename_column",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS total,
           0 AS rename_files_touched,
           1 AS v0_schema_original
    FROM orders WHERE o_orderkey % 9 <> 2
    """,
)
def table_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-rewrite RENAME COLUMN via column mapping (Delta's device):
    orders lands minus its %4 slice, ``o_totalprice`` is renamed to
    ``price`` as a metadata-only commit (``rename_files_touched``
    diffs the file sets across the rename — must be 0), the %4 slice
    is APPENDED under the NEW name (it writes the frozen physical
    name, so pre- and post-rename files stay mutually readable), and a
    DV delete filters on the new name. The read-back aggregate over
    the mixed-provenance live view must hash-match batch SQL over all
    of orders minus the deleted slice; ``v0_schema_original`` pins
    time travel presenting the PRE-rename schema.

    Scale: a rename on a 100 TB table is one manifest commit —
    O(metadata), zero data I/O — and every historical snapshot stays
    readable under its own schema. Parity: Delta column mapping
    (RENAME/DROP COLUMN), Iceberg schema evolution by field id."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = stage.fresh(sf_dir, "txn_rename")
    t = TxnTable(spark, root, "o_orderkey")
    key = F.col("o_orderkey")
    t.create(
        orders.filter(key % 4 != 0).repartitionByRange(4, "o_orderkey")
    )
    t.rename_column("o_totalprice", "price")
    files_v0 = {e["path"] for e in t.manifest(0)["files"]}
    files_v1 = {e["path"] for e in t.manifest(1)["files"]}
    touched = len(files_v0 ^ files_v1)
    v0_original = int(t.read(0).columns == ["o_orderkey", "o_totalprice"])
    t.append(
        orders.filter(key % 4 == 0)
        .withColumnRenamed("o_totalprice", "price")
        .coalesce(1)
    )
    t.delete_where_dv(key % 9 == 2)
    return (
        t.read()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(
                F.sum(F.col("price").cast("decimal(18,2)"))
                .cast("double"), 2
            ).alias("total"),
        )
        .withColumn("rename_files_touched", F.lit(touched).cast("int"))
        .withColumn("v0_schema_original", F.lit(v0_original).cast("int"))
    )


@query(
    "table_reorg_purge",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS total_price,
           1 AS files_purged,
           3 AS files_carried
    FROM orders, (SELECT CAST(floor(max(o_orderkey) / 4) AS BIGINT) AS cut
                  FROM orders) lim
    WHERE NOT ((o_orderkey % 3 = 0 AND o_orderkey <= lim.cut)
               OR o_orderkey % 1000 = 7)
    """,
)
def table_reorg_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REORG … APPLY (PURGE) — the deletion-vector maintenance loop:
    orders lands as 4 key-range files, one DV delete marks a HEAVY
    slice (every third key in the first quarter of the key domain →
    ~33% of file 0) plus a LIGHT scatter (o_orderkey % 1000 = 7 →
    ~0.1% everywhere), and ``reorg_purge(0.2)`` rewrites ONLY the hot
    file to its live rows — the lightly-vectored files keep their
    cheap vectors and carry by reference (counters pinned: 1 purged /
    3 carried). The read-back aggregate must hash-match batch SQL with
    the same predicate: purge is content-preserving, so a row lost or
    resurrected in the rewrite changes the hash.

    Determinism note: the arithmetic cut (max/4) approximates file 0's
    sampled range boundary; a straddle puts at most a few % of the
    heavy slice into file 1 — far below the 20% threshold — so the
    purged/carried counters are stable while BOTH engines compute the
    row set from the same pure predicate, never from file boundaries.

    Scale: purge I/O is proportional to the files whose deleted-ratio
    crossed the threshold — the knob that bounds the merge-on-read
    read tax under continuous GDPR-style erasure without compact()'s
    O(table) rewrite. Parity: Delta REORG TABLE … APPLY (PURGE)."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = stage.fresh(sf_dir, "txn_purge")
    t = TxnTable(spark, root, "o_orderkey")
    t.create(orders.repartitionByRange(4, "o_orderkey"))
    cut = int(orders.agg(F.max("o_orderkey")).collect()[0][0]) // 4
    key = F.col("o_orderkey")
    t.delete_where_dv(
        ((key % 3 == 0) & (key <= cut)) | (key % 1000 == 7)
    )
    _, purged, carried = t.reorg_purge(max_deleted_ratio=0.2)
    return (
        t.read()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double"), 2
            ).alias("total_price"),
        )
        .withColumn("files_purged", F.lit(purged).cast("int"))
        .withColumn("files_carried", F.lit(carried).cast("int"))
    )


@query(
    "table_cdc_rows",
    """
    SELECT * FROM (
      SELECT 'insert' AS _change_type,
             CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE), 2) AS total
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT 'delete' AS _change_type,
             CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE), 2) AS total
      FROM orders WHERE o_orderkey % 9 = 2
    )
    """,
)
def table_cdc_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change data capture from the txn log: the table is
    created from orders minus the %5 slice, the slice is APPENDED
    (v1), a scattered DV DELETE lands (v2, o_orderkey % 9 = 2), and a
    compaction rewrites the layout (v3). ``read_changes_rows(0, 3)``
    must emit the appended rows as exact ``insert``s, the DV-deleted
    rows as exact per-row ``delete``s WITH their column values (the
    deletion-vector payoff — a copy-on-write delete loses row
    identity), and NOTHING for the layout-only compaction. The op
    aggregates the change feed per type; both legs hash-match batch
    SQL over orders.

    Scale: each commit's changes come from scans of only that commit's
    touched files plus KB-scale sidecar diffs — a day of CDC on a
    100 TB table reads the day's files, never the table. Parity:
    Delta Change Data Feed / Iceberg changelog scans."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    key = F.col("o_orderkey")

    def _build(root: str) -> None:
        TxnTable(spark, root, "o_orderkey").create(
            orders.filter(key % 5 != 0).repartitionByRange(4, "o_orderkey")
        )

    root = stage.staged_copy(sf_dir, "txn_cdc_v2", _build)
    t = TxnTable(spark, root, "o_orderkey")
    t.append(orders.filter(key % 5 == 0).coalesce(1))
    t.delete_where_dv(key % 9 == 2)
    t.compact(target_files=4)
    return (
        t.read_changes_rows(0, 3)
        .groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double"), 2
            ).alias("total"),
        )
    )


@query(
    "table_auto_optimize",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS total_price,
           3 AS files_compacted,
           4 AS files_carried
    FROM orders
    """,
)
def table_auto_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental OPTIMIZE after micro-batched ingest: the table is
    created as 4 range-clustered files (the compacted steady state),
    then three SMALL appends land (o_orderkey % 1000 ∈ {1,2,3} — the
    streaming-ingest tail), and ``compact_small`` rewrites ONLY the
    small tail into one clustered file, carrying the 4 big files by
    reference (operators/txn_table.py::compact_small). Counters are
    deterministic — 3 compacted, 4 carried — and the read-back must
    hash-match the full orders aggregate (compaction is content-
    preserving).

    Scale: this is the maintenance loop that keeps file counts bounded
    under continuous ingest without full-table rewrites — O(small tail)
    I/O per pass where ``compact`` is O(table); selection is manifest
    metadata (per-file row counts), no data scan."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = stage.fresh(sf_dir, "txn_autoopt")
    t = TxnTable(spark, root, "o_orderkey")
    tail = F.col("o_orderkey") % 1000
    t.create(
        orders.filter(~tail.isin(1, 2, 3)).repartitionByRange(
            4, "o_orderkey"
        )
    )
    for i in (1, 2, 3):
        # coalesce(1): one file per micro-append regardless of the
        # scan's split count, so the counters are scale-invariant.
        t.append(orders.filter(tail == i).coalesce(1))
    _, compacted, carried = t.compact_small(max_rows=1000)
    return (
        t.read()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double"), 2
            ).alias("total_price"),
        )
        .withColumn("files_compacted", F.lit(compacted))
        .withColumn("files_carried", F.lit(carried))
    )
