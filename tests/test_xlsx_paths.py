"""The two xlsx read paths and the Python workers they run on.

``Engine.load_xlsx`` plans the scan on the driver
(``sources.xlsx.planned_scan``); ``spark.read.format("xlsx")`` plans it
in Python planner workers. Both must give the same schema and rows.
The workers must find the engine without help from the environment,
and ``session.get_spark`` starts them from the engine's daemon, which
back-ports CPython 3.12's lazy zip-directory invalidation.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from datetime import datetime

import pytest

from tools.check_correctness import value_hash
from xlsx_to_database_spark import daemon
from xlsx_to_database_spark.sources import xlsx_io
from xlsx_to_database_spark.sources.xlsx_io import write_workbook

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"


def _rewrite(path, edits):
    """Rewrite zip members of the workbook at ``path``: member name →
    function of its old text."""
    with zipfile.ZipFile(path) as zf:
        old = {n: zf.read(n).decode() for n in zf.namelist()}
    for name, edit in edits.items():
        old[name] = edit(old.get(name, ""))
    with zipfile.ZipFile(path, "w") as zf:
        for n, text in old.items():
            zf.writestr(n, text)


def _hidden_sheet_book(path):
    write_workbook(
        path,
        {
            "vis1": (["k", "v"], [(1, 10.5), (2, None)]),
            "scratch": (["k", "v"], [(9, 99.0)]),
            "vis2": (["k", "v"], [(3, 30.0), (4, 40.25)]),
        },
    )
    _rewrite(path, {
        "xl/workbook.xml": lambda t: t.replace(
            '<sheet name="scratch" sheetId="2"', '<sheet name="scratch" state="hidden" sheetId="2"'
        ),
    })


def _dates_1904_book(path):
    """Serial cells whose only date signal is the number format, in a
    workbook on the 1904 date system."""
    write_workbook(path, {"s": (["x"], [(0,)])})
    _rewrite(path, {
        "xl/workbook.xml": lambda t: t.replace("<sheets>", '<workbookPr date1904="1"/><sheets>'),
        "xl/styles.xml": lambda _: (
            f'<?xml version="1.0"?><styleSheet xmlns="{NS}">'
            '<numFmts count="1"><numFmt numFmtId="164" formatCode="dd/mm/yyyy\\ hh:mm"/></numFmts>'
            '<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/>'
            '<xf numFmtId="164" applyNumberFormat="1"/></cellXfs></styleSheet>'
        ),
        "xl/worksheets/sheet1.xml": lambda _: (
            f'<?xml version="1.0"?><worksheet xmlns="{NS}"><sheetData>'
            '<row r="1"><c r="A1" t="inlineStr"><is><t>Day</t></is></c>'
            '<c r="B1" t="inlineStr"><is><t>At Time</t></is></c>'
            '<c r="C1" t="inlineStr"><is><t>plain</t></is></c></row>'
            '<row r="2"><c r="A2" s="1"><v>100.5</v></c><c r="B2" s="2"><v>45292.25</v></c>'
            '<c r="C2"><v>7.5</v></c></row>'
            '<row r="3"><c r="A3" s="1"><v>1</v></c><c r="B3" s="2"><v>0</v></c>'
            '<c r="C3"><v>-2</v></c></row>'
            "</sheetData></worksheet>"
        ),
    })


def _ragged_book(path):
    write_workbook(
        path,
        {
            "r": (
                ["Order ID", "Amount!"],
                [
                    (1, 12.5, "extra", True),
                    (2,),
                    (3, None, None, False),
                    (4, 7.25),
                    ("five", 1.0, datetime(2024, 3, 1, 10, 30)),
                ],
            )
        },
    )


def _sliced_book(path):
    """One sheet big enough to be read in slices, with gaps in it."""
    write_workbook(
        path,
        {
            "big": (
                ["id", "name", "amount", "flag", "at", "note"],
                [
                    (i, f"name{i % 13}", i * 0.25, i % 3 == 0, datetime(2020, 1, 1 + i % 28, i % 24),
                     None if i % 7 == 0 else f"n{i}")
                    for i in range(5000)
                ],
            )
        },
    )
    with zipfile.ZipFile(path) as zf:
        assert zf.getinfo("xl/worksheets/sheet1.xml").file_size > 2 * xlsx_io.SLICE_BYTES


#: (workbook builder, Engine.load_xlsx keyword arguments).
CASES = {
    "sliced": (_sliced_book, {}),
    "wildcard_hidden": (_hidden_sheet_book, {"sheet": "*"}),
    "numfmt_dates_1904": (_dates_1904_book, {}),
    "ragged": (_ragged_book, {}),
    "no_header_no_sanitize": (_ragged_book, {"header": False, "sanitize": False}),
    "raw_headers": (_ragged_book, {"sanitize": False}),
    "declared_schema": (
        _ragged_book,
        {"schema": "order_id STRING, amount DOUBLE, col_3 STRING, col_4 BOOLEAN"},
    ),
}


def _format_read(spark, path, sheet=None, header=True, sanitize=True, schema=None):
    reader = (
        spark.read.format("xlsx")
        .option("header", str(header).lower())
        .option("sanitize", str(sanitize).lower())
    )
    if sheet:
        reader = reader.option("sheet", sheet)
    if schema:
        reader = reader.schema(schema)
    return reader.load(path)


def _digest(df):
    rows = [tuple(r) for r in df.collect()]
    return len(rows), value_hash(rows, df.columns)


@pytest.mark.parametrize("case", sorted(CASES))
def test_engine_and_format_reads_agree(spark, tmp_path, case):
    from xlsx_to_database_spark.api import Engine

    build, kwargs = CASES[case]
    path = str(tmp_path / f"{case}.xlsx")
    build(path)
    eng = Engine(spark=spark)
    planned = eng.load_xlsx(path, **kwargs).df
    via_format = _format_read(spark, path, **kwargs)
    assert planned.schema == via_format.schema
    got = _digest(planned)
    assert got[0] > 0
    assert got == _digest(via_format)
    # A filter the format read pushes into decode gives the same rows
    # when Spark applies it after decode.
    col = planned.columns[0]
    first = planned.collect()[0][0]
    assert _digest(planned.filter(planned[col] == first)) == _digest(
        via_format.filter(via_format[col] == first)
    )


def test_engine_scan_is_planned_on_the_driver(spark, tmp_path):
    """No Python data-source scan (its planner round trips) in the
    Engine frame's plan: one mapInArrow task per sheet over a range."""
    from xlsx_to_database_spark.api import Engine

    path = str(tmp_path / "hidden.xlsx")
    _hidden_sheet_book(path)
    df = Engine(spark=spark).load_xlsx(path, sheet="*").df
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan" not in plan and "(Python)" not in plan, plan
    assert "MapInArrow" in plan, plan
    assert df.rdd.getNumPartitions() == 2  # the two visible sheets
    assert "BatchScan xlsx" in _format_read(spark, path)._jdf.queryExecution().executedPlan().toString()


def test_big_sheet_is_read_in_slices(spark, tmp_path):
    from xlsx_to_database_spark.api import Engine

    path = str(tmp_path / "big.xlsx")
    _sliced_book(path)
    with zipfile.ZipFile(path) as zf:
        size = zf.getinfo("xl/worksheets/sheet1.xml").file_size
    n = -(-size // xlsx_io.SLICE_BYTES)
    assert Engine(spark=spark).load_xlsx(path).df.rdd.getNumPartitions() == n
    assert _format_read(spark, path).rdd.getNumPartitions() == n


def test_workers_find_the_engine_from_any_cwd(tmp_path):
    """A driver outside the checkout with PYTHONPATH unset: both read
    paths must import the engine in their Python workers."""
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {ROOT!r})
        from xlsx_to_database_spark.api import Engine
        from xlsx_to_database_spark.sources.xlsx_io import write_workbook

        write_workbook("book.xlsx", {{"s": (["k", "v"], [(1, "a"), (2, "b")])}})
        eng = Engine()
        a = sorted(tuple(r) for r in eng.load_xlsx("book.xlsx").df.collect())
        b = sorted(tuple(r) for r in eng.spark.read.format("xlsx").load("book.xlsx").collect())
        eng.spark.stop()
        print(json.dumps([a, b]))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    a, b = json.loads(proc.stdout.strip().splitlines()[-1])
    assert a == b == [[1, "a"], [2, "b"]]


# ---------------------------------------------------------------------------
# The worker daemon
# ---------------------------------------------------------------------------


@pytest.fixture()
def lazy_zipimport():
    """The back-port installed for one test, then removed again (on
    CPython >= 3.12 nothing is patched: the behaviour is native)."""
    cls = zipimport.zipimporter
    saved = cls.__dict__["invalidate_caches"]
    patched = daemon.backport_lazy_zip_invalidation()
    try:
        yield patched
    finally:
        if patched:
            del cls._files
            cls.invalidate_caches = saved


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def test_zip_directory_is_reread_lazily(tmp_path, monkeypatch, lazy_zipimport):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"lazy_zip_a": "VALUE = 'a'\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("lazy_zip_a").VALUE == "a"
        first = len(reads)
        # A module added by rewriting the archive still imports after
        # the invalidation, but the directory is not re-read until a
        # lookup needs it, and then once.
        _write_zip(archive, {"lazy_zip_a": "VALUE = 'a'\n", "lazy_zip_b": "VALUE = 'b'\n"})
        importlib.invalidate_caches()
        assert len(reads) == first
        assert importlib.import_module("lazy_zip_b").VALUE == "b"
        assert len(reads) == first + 1
    finally:
        for name in ("lazy_zip_a", "lazy_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_backport_only_delegates_from_cpython_312(monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    before = dict(zipimport.zipimporter.__dict__)
    assert daemon.backport_lazy_zip_invalidation() is False
    assert dict(zipimport.zipimporter.__dict__) == before


@pytest.mark.skipif(not os.path.exists("/proc/self/cmdline"), reason="needs /proc")
def test_python_tasks_run_under_the_engine_daemon(spark):
    def probe(_):
        import os
        import zipimport

        with open(f"/proc/{os.getppid()}/cmdline") as f:
            parent = f.read().split("\0")
        yield parent, zipimport.zipimporter.invalidate_caches.__name__

    (parent, invalidate), = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert parent[1:3] == ["-m", "xlsx_to_database_spark.daemon"], parent
    expected = "invalidate_caches" if sys.version_info >= (3, 12) else "_invalidate_caches"
    assert invalidate == expected


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="lazy natively from CPython 3.12")
def test_planner_workers_get_the_zip_backport(spark, tmp_path):
    """Spark forks the data-source planner workers from the stock
    ``pyspark.daemon``; importing the xlsx source patches them, so the
    second write's commit runs in a worker with the lazy invalidation."""
    from xlsx_to_database_spark.sources.xlsx import XlsxDataSource, XlsxWriter

    class ProbeWriter(XlsxWriter):
        def commit(self, messages):
            super().commit(messages)
            import json
            import os
            import zipimport

            from xlsx_to_database_spark import daemon

            with open(os.path.join(self.path, "probe.json"), "w") as f:
                json.dump(zipimport.zipimporter.invalidate_caches is daemon._invalidate_caches, f)

    class ProbeSource(XlsxDataSource):
        @classmethod
        def name(cls):
            return "xlsx_probe"

        def writer(self, schema, overwrite):
            return ProbeWriter(schema, dict(self.options), overwrite)

    spark.dataSource.register(ProbeSource)
    patched = []
    for i in range(2):
        out = tmp_path / f"out{i}"
        spark.range(3).write.format("xlsx_probe").mode("overwrite").save(str(out))
        patched.append(json.loads((out / "probe.json").read_text()))
    assert patched[1] is True, patched


@pytest.mark.parametrize("in_worker", [False, True])
def test_source_import_patches_zipimport_only_in_workers(in_worker):
    script = (
        "import zipimport\n"
        "import xlsx_to_database_spark.sources.xlsx\n"
        "print(zipimport.zipimporter.invalidate_caches.__module__)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHON_WORKER_FACTORY_SECRET"}
    env["PYTHONPATH"] = ROOT
    if in_worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "secret"
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    patched = in_worker and sys.version_info < (3, 12)
    assert proc.stdout.strip() == ("xlsx_to_database_spark.daemon" if patched else "zipimport")
