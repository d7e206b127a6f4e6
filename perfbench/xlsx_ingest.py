"""Workload ``xlsx_ingest``: the reference tool's own job.

Seeded workbooks are cut from sf0.1 tables in three shapes:

- one multi-sheet workbook of orders, split by ``o_orderkey`` modulo
  the sheet count into at least as many sheets as cores (one task per
  sheet);
- one single large sheet of lineitem rows (numeric and date heavy, one
  task);
- many small string-heavy workbooks of customer or part rows (shared
  strings; fixed per-workbook overhead dominates).

Each is loaded through ``api.Engine.load_xlsx``: the multi-sheet one
into ``to_parquet``, ``to_txn_table`` and ``to_jdbc`` (in-memory Derby),
the others into ``to_parquet``; one ``df.write.format("xlsx")`` export
runs in every cycle. The txn table just loaded then takes a seeded DML
sequence: ``compact`` into four range files, a key-range ``merge``
(upserts and inserts inside one file), ``delete_where_dv``,
``update_where_dv``, ``append`` and a read-back aggregate. The
sources.*, sinks, Python-worker and operators.txn_table layers do the
work; catalog and registry do none.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import check, common, gen

SF = 0.1
MULTI_ROWS = 4_000
SINGLE_ROWS = 4_000
SMALL_ROWS = 200
SMALL_BOOKS = 8
EXPORT_ROWS = 4_000
JDBC_URL = "jdbc:derby:memory:perfbench;create=true"
KEY = "o_orderkey"

LARGE = ("multi", "single")
#: The txn-table commits after ``multi_txn`` creates the table.
DML = ("txn_compact", "txn_merge", "txn_delete", "txn_update", "txn_append")


class XlsxIngest(common.Workload):
    name = "xlsx_ingest"

    def __init__(self, work: str, seed: int):
        self.inp = os.path.join(work, "in")
        self.out = os.path.join(work, "out")
        super().__init__(work, seed)
        self.n_sheets = max(4, common.cpu_count())
        self.txn_path = os.path.join(self.out, "multi_txn")
        self._small = 0
        self.changed, self.dml_bytes0, self.live = 0, 0, 0
        self.rows: dict[str, int] = {}
        self.books: dict[str, str] = {}

    # -- inputs and set-up ----------------------------------------------------

    def generate(self) -> None:
        """Generate and write the workbooks (through the engine's xlsx
        writer), the same rows as parquet for the DuckDB check, and the
        DML statements' inputs."""
        from xlsx_to_database_spark.sources import xlsx_io

        common.fresh_dir(self.inp)
        common.fresh_dir(self.out)
        t = gen.make_tables(SF, self.seed, only=["orders", "lineitem", "customer", "part"])
        rng = np.random.default_rng([self.seed, 1])

        def sample(name, n):
            tbl = t[name]
            return tbl.take(rng.choice(tbl.num_rows, n, replace=False))

        multi = sample("orders", MULTI_ROWS)
        self._book(xlsx_io, "multi", multi, sheets=self.n_sheets)
        self._book(xlsx_io, "single", sample("lineitem", SINGLE_ROWS))
        for i in range(SMALL_BOOKS):
            self._book(xlsx_io, f"small{i}", sample("customer" if i % 2 == 0 else "part", SMALL_ROWS))
        export = sample("orders", EXPORT_ROWS)
        pq.write_table(export, os.path.join(self.inp, "export.parquet"))
        self.rows["export"] = export.num_rows
        self.row_bytes = _logical_row_bytes(multi)
        self.plan = self._plan(multi, t["orders"].num_rows, np.random.default_rng([self.seed, 2]))

    def _book(self, xlsx_io, name: str, tbl, sheets: int = 1) -> None:
        header, rows = tbl.column_names, gen.rows_of(tbl)
        key = np.asarray(tbl.column(0))
        parts = {
            f"part{s}": (header, [r for r, k in zip(rows, key) if k % sheets == s])
            for s in range(sheets)
        } if sheets > 1 else {"data": (header, rows)}
        path = os.path.join(self.inp, f"{name}.xlsx")
        xlsx_io.write_workbook(path, parts)
        pq.write_table(tbl, os.path.join(self.inp, f"{name}.parquet"))
        self.books[name] = path
        self.rows[name] = tbl.num_rows

    def _plan(self, multi: pa.Table, n_orders: int, rng) -> dict:
        """The seeded DML sequence on the multi-sheet orders table. After
        ``compact`` the table is four key-range files; the merge works
        inside the middle of one quarter of the sorted keys (so it
        rewrites that file and carries the others), the delete and the
        update inside the next two quarters. The seed picks the quarters,
        keys and values; the shape of the work stays the same. The merge
        source and the append batch are staged as parquet files."""
        keys = np.sort(np.asarray(multi.column(KEY)))
        n = len(keys)

        def window(q, width):
            """Keys [lo, hi] of ``width`` sorted positions centred in quarter q."""
            a = (q % 4) * n // 4 + (n // 4 - width) // 2
            return int(keys[a]), int(keys[a + width - 1])

        q = int(rng.integers(0, 4))
        lo, hi = window(q, n // 8)
        inside = keys[(keys >= lo) & (keys <= hi)]
        hit = np.sort(rng.choice(inside, max(1, len(inside) // 2), replace=False))
        free = np.setdiff1d(np.arange(lo, hi + 1), keys)
        fresh = np.sort(rng.choice(free, max(1, len(inside) // 10), replace=False))
        by_key = dict(zip(multi.column(KEY).to_pylist(), range(multi.num_rows)))
        merge_src = pa.concat_tables([
            _restamp(multi.take([by_key[int(k)] for k in hit]), rng, hit),
            _restamp(multi.take(rng.integers(0, n, len(fresh))), rng, fresh),
        ])
        batch_keys = np.arange(n_orders, n_orders + max(1, n // 10))
        batch = _restamp(multi.take(rng.integers(0, n, len(batch_keys))), rng, batch_keys)
        paths = {}
        for name, tbl in (("merge", merge_src), ("append", batch)):
            paths[name] = os.path.join(self.inp, f"txn_{name}.parquet")
            pq.write_table(tbl, paths[name])
        d_lo, d_hi = window(q + 1, n // 8)
        u_lo, u_hi = window(q + 2, n // 16)
        return {
            "merge": paths["merge"], "merge_rows": merge_src.num_rows,
            "append": paths["append"], "append_rows": batch.num_rows,
            "delete": f"{KEY} BETWEEN {d_lo} AND {d_hi} AND o_orderstatus = 'P'",
            "update": f"{KEY} BETWEEN {u_lo} AND {u_hi}",
        }

    def attach(self, spark) -> None:
        from pyspark.sql import functions as F

        from xlsx_to_database_spark.api import Engine
        from xlsx_to_database_spark.operators.txn_table import TxnTable
        from xlsx_to_database_spark.sources import xlsx_io

        self.spark, self.F, self.TxnTable = spark, F, TxnTable
        self.engine = Engine(spark)
        self.xlsx_io = xlsx_io
        self._txn_schema = None

    # -- the op cycle ---------------------------------------------------------

    def cycle(self) -> list[str]:
        return [
            "multi_parquet", "small", "multi_txn", *DML, "txn_read",
            "multi_jdbc", "single_parquet", "small", "export",
        ]

    def prepare(self, kind: str) -> None:
        """Untimed: fresh txn-table directory, the next small workbook,
        and the DataFrames the DML statements and the export read."""
        if kind == "multi_txn":
            shutil.rmtree(self.txn_path, ignore_errors=True)
            self.txn = self.TxnTable(self.spark, self.txn_path, KEY)
            self.changed = 0
        elif kind == "small":
            self._small = (self._small + 1) % SMALL_BOOKS
        elif kind in ("txn_merge", "txn_append"):
            if self._txn_schema is None:
                self._txn_schema = self.txn.read().schema
            src = self.spark.read.parquet(self.plan[kind[4:]])
            self.source = src.select([src[f.name].cast(f.dataType) for f in self._txn_schema])
            if kind == "txn_merge":
                self.dml_bytes0 = common.dir_bytes(self.txn_path)
        elif kind == "export":
            self.source = self.spark.read.parquet(os.path.join(self.inp, "export.parquet"))

    def _load(self, shape: str):
        return self.engine.load_xlsx(self.books[shape], sheet="*" if shape == "multi" else None)

    def run_op(self, kind: str) -> int:
        if kind == "small":
            name = f"small{self._small}"
            self._load(name).to_parquet(os.path.join(self.out, f"{name}_pq"))
            return self.rows[name]
        if kind == "export":
            with self.tracer.span("xlsx.export"):
                (self.source.write.format("xlsx").option("sheet", "orders").mode("overwrite")
                 .save(os.path.join(self.out, "export")))
            return self.rows["export"]
        if kind.startswith("txn_"):
            return self._dml(kind)
        shape, sink = kind.split("_")
        t = self._load(shape)
        if sink == "parquet":
            t.to_parquet(os.path.join(self.out, kind))
        elif sink == "txn":
            t.to_txn_table(self.txn_path, key=KEY)
        else:
            t.to_jdbc(JDBC_URL, table=shape, mode="truncate")
        return self.rows[shape]

    def _dml(self, kind: str) -> int:
        """One statement on the loaded txn table; returns the rows it
        changed (rows read back for the read and the compaction)."""
        F = self.F
        if kind == "txn_compact":
            self.txn.compact(target_files=4)
            return self.rows["multi"]
        if kind == "txn_read":
            df = self.txn.read().groupBy("o_orderstatus").agg(
                F.count("*").alias("n"), F.sum("o_totalprice").alias("total"))
            with self.tracer.span("spark.exec"):
                self.live = sum(r["n"] for r in df.collect())
            return self.live
        if kind == "txn_merge":
            self.txn.merge(self.source, KEY)
            changed = self.plan["merge_rows"]
        elif kind == "txn_delete":
            changed = self.txn.delete_where_dv(F.expr(self.plan["delete"]))[2]
        elif kind == "txn_update":
            changed = self.txn.update_where_dv(
                F.expr(self.plan["update"]),
                {"o_totalprice": F.expr("o_totalprice + 100"), "o_orderpriority": F.lit("1-URGENT")},
            )[2]
        else:
            self.txn.append(self.source)
            changed = self.plan["append_rows"]
        self.changed += changed
        return changed

    # -- correctness ----------------------------------------------------------

    def verify(self) -> list[str]:
        """Read back every sink and compare row count and the canonical
        hash with DuckDB over the generator's rows; the txn table with
        DuckDB replaying the same DML sequence."""
        from xlsx_to_database_spark.sources import sinks

        problems = []
        con = check.duck_over(self.inp)

        def expect(name):
            return check.duck_digest(con, f"SELECT * FROM read_parquet('{os.path.join(self.inp, name)}.parquet')")

        def compare(label, got, want):
            if got != want:
                problems.append(f"{label}: {got[0]} rows {got[1][:12]} vs expected {want[0]} rows {want[1][:12]}")

        try:
            for kind in ("multi_parquet", "single_parquet"):
                compare(kind, check.spark_digest(self.spark.read.parquet(os.path.join(self.out, kind))),
                        expect(kind.split("_")[0]))
            compare("multi_jdbc", check.spark_digest(sinks.from_database(self.spark, JDBC_URL, "multi")),
                    expect("multi"))
            compare("multi_txn+dml", check.spark_digest(self.txn.read()), self._replay(con))
            for i in range(SMALL_BOOKS):
                out = os.path.join(self.out, f"small{i}_pq")
                if os.path.isdir(out):  # the books the run got to
                    compare(f"small{i}->parquet", check.spark_digest(self.spark.read.parquet(out)), expect(f"small{i}"))
            rows, cols = [], None
            export_dir = os.path.join(self.out, "export")
            for part in sorted(os.listdir(export_dir)):
                if not part.endswith(".xlsx"):
                    continue
                wb = self.xlsx_io.read_workbook(os.path.join(export_dir, part))
                try:
                    it = wb.iter_rows("orders")
                    cols = next(it)
                    rows += [tuple(r) for r in it]
                finally:
                    wb.close()
            got = (len(rows), check.value_hash(rows, cols or []))
            compare("export->xlsx", got, expect("export"))
        finally:
            con.close()
        return problems

    def _replay(self, con) -> tuple[int, str]:
        """The DML sequence applied by DuckDB to the multi-sheet rows."""
        p = self.plan
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{os.path.join(self.inp, 'multi.parquet')}')")
        con.execute(f"DELETE FROM t WHERE {KEY} IN (SELECT {KEY} FROM read_parquet('{p['merge']}'))")
        con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{p['merge']}')")
        con.execute(f"DELETE FROM t WHERE {p['delete']}")
        con.execute(f"UPDATE t SET o_totalprice = o_totalprice + 100, o_orderpriority = '1-URGENT' WHERE {p['update']}")
        con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{p['append']}')")
        return check.duck_digest(con, "SELECT * FROM t")

    # -- reporting ------------------------------------------------------------

    def detail(self, loop, e2e: dict) -> dict:
        plain = [s for s in loop.samples if not s.traced]
        large = [s for s in plain if s.kind.split("_")[0] in LARGE]
        small = [s.seconds for s in plain if s.kind == "small"]
        export = [s for s in plain if s.kind == "export"]
        commits = [s.seconds for s in plain if s.kind in DML]
        reads = [s.seconds for s in plain if s.kind == "txn_read"]
        small_tail, small_pct, small_n = common.tail(small)
        dml_tail, dml_pct, dml_n = common.tail(commits)
        table_bytes = common.dir_bytes(self.txn_path)
        changed_bytes = self.changed * self.row_bytes
        return {
            "ingest_rows_per_s": {"value": common.rate(large), "unit": "rows/s"},
            "small_load_p50_s": {"value": common.med(small), "unit": "s"},
            "small_load_tail_s": {"value": small_tail, "unit": "s", "percentile": small_pct, "samples": small_n},
            "export_rows_per_s": {"value": common.rate(export), "unit": "rows/s"},
            "dml_p50_s": {"value": common.med(commits), "unit": "s"},
            "dml_tail_s": {"value": dml_tail, "unit": "s", "percentile": dml_pct, "samples": dml_n},
            "read_after_write_p50_s": {"value": common.med(reads), "unit": "s"},
            "write_amp": {
                "value": (table_bytes - self.dml_bytes0) / changed_bytes if changed_bytes else 0.0,
                "unit": "ratio",
            },
            "bytes_per_live_row": {"value": table_bytes / self.live if self.live else 0.0, "unit": "B/row"},
        }

    def layer_extras(self) -> dict:
        """Measured once after the traced loop: in-process, single-thread
        decode and encode rates of ``sources.xlsx_io`` over the staged
        workbooks; per-workbook load→noop scan time and partitions,
        summed over the cycle's loads; and the bytes under the last
        cycle's txn table (all written during the cycle) and its log."""
        rows_total, t_dec, t_enc = 0, 0.0, 0.0
        scratch = os.path.join(self.out, "encode.xlsx")
        for path in self.books.values():
            t0 = time.perf_counter()
            wb = self.xlsx_io.read_workbook(path)
            try:
                sheets = {s: list(wb.iter_rows(s)) for s in wb.sheets}
            finally:
                wb.close()
            t_dec += time.perf_counter() - t0
            rows_total += sum(len(r) - 1 for r in sheets.values())
            t0 = time.perf_counter()
            self.xlsx_io.write_workbook(scratch, {s: (r[0], r[1:]) for s, r in sheets.items()})
            t_enc += time.perf_counter() - t0
        scan, parts = {}, {}
        for shape in LARGE + ("small0",):
            t0 = time.perf_counter()
            df = self._load(shape).df
            df.write.format("noop").mode("overwrite").save()
            scan[shape], parts[shape] = time.perf_counter() - t0, df.rdd.getNumPartitions()
        loads = [
            k.split("_")[0] if k != "small" else "small0"
            for k in self.cycle() if k == "small" or k.split("_")[0] in LARGE
        ]
        return {
            "xlsx_io.decode_rows_per_s": {"value": rows_total / t_dec, "unit": "rows/s"},
            "xlsx_io.encode_rows_per_s": {"value": rows_total / t_enc, "unit": "rows/s"},
            "xlsx.scan_s": {"value": sum(scan[k] for k in loads), "unit": "s"},
            "xlsx.partitions": {"value": sum(parts[k] for k in loads), "unit": "count"},
            "txn_table.bytes_written": {"value": common.dir_bytes(self.txn_path), "unit": "B"},
            "txn_table.log_bytes": {"value": common.dir_bytes(os.path.join(self.txn_path, "_txn_log")), "unit": "B"},
        }


def _restamp(tbl: pa.Table, rng, keys) -> pa.Table:
    """``tbl``'s rows under new keys, prices and statuses."""
    n = tbl.num_rows
    return (
        tbl.set_column(0, KEY, pa.array(np.asarray(keys, dtype="int64")))
        .set_column(tbl.schema.get_field_index("o_totalprice"), "o_totalprice",
                    pa.array(np.round(rng.uniform(1000, 500_000, n), 2)))
        .set_column(tbl.schema.get_field_index("o_orderstatus"), "o_orderstatus",
                    pa.array(rng.choice(["P", "O", "F"], n).tolist()))
    )


def _logical_row_bytes(tbl: pa.Table) -> float:
    """Mean bytes of one row's values: 8 per number or timestamp, the
    UTF-8 length per string."""
    total = 0.0
    for col in tbl.columns:
        if pa.types.is_string(col.type):
            total += sum(len(s.encode()) for s in col.to_pylist()) / tbl.num_rows
        else:
            total += 8
    return total
