"""The xlsx PySpark Python Data Source (SURVEY.md §2.1 xlsx_scan /
xlsx_infer / xlsx_multisheet; §3.1 lifecycle).

Spark-first design: the workbook is exposed through the public
``pyspark.sql.datasource`` API so it composes with the whole engine —
``spark.read.format("xlsx").load(path)`` yields a normal DataFrame that
Catalyst optimizes like any other scan.

Parallelism: ``partitions()`` returns one InputPartition per selected
worksheet, so an N-sheet workbook decodes on N executor Python workers
concurrently (xlsx sheets are independently-compressed zip members —
per-sheet is the natural parallel grain). A sheet whose XML exceeds
``xlsx_io.SLICE_BYTES`` is split further into slices that start at row
boundaries (``Workbook.sheet_slices``), one partition each, so a single
big sheet decodes on several cores; only the first slice drops the
header row.

Two read paths run the same ``schema()``, ``partitions()`` and
``read()``. ``spark.read.format("xlsx")`` is the DataFrameReader/SQL
entry point: Spark calls ``schema()`` and ``partitions()`` in Python
planner workers. ``api.Engine.load_xlsx`` plans on the driver instead
(``planned_scan``): both run in-process and only ``read()`` runs on the
workers, which saves two worker round trips per load.

Pushdown: Python data sources get no automatic predicate pushdown, so
``pushFilters`` accepts EqualTo filters and applies them during decode
— rows are dropped *before* crossing the Python→JVM Arrow boundary,
which is the expensive edge of this source. This applies only to
``format("xlsx")`` reads; filters on ``Engine`` frames run in Spark
after decode and return the same rows.

Options: ``sheet`` (name, or omitted = first sheet), ``header``
(default true), ``sanitize`` (default true: headers → SQL identifiers),
``sampleRows`` (inference sample size, default 200).

Python workers: Spark starts the data-source planner workers
(``create_data_source``, ``plan_data_source_read``,
``write_into_data_source``, ``commit_data_source_write``) from the stock
``pyspark.daemon``, whatever ``spark.python.daemon.module`` says, so
they miss the engine daemon's zip-import back-port. Every such worker
unpickles this module before its call, and importing it in a worker
applies the back-port there (see ``daemon.py``).
"""

from __future__ import annotations

import itertools
import os
from typing import Any, Iterator

from pyspark.sql.datasource import (
    CaseInsensitiveDict,
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from xlsx_to_database_spark.sources import infer as I
from xlsx_to_database_spark.sources import xlsx_io

# Python workers carry the worker factory's secret; the driver does not.
if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
    from xlsx_to_database_spark import daemon

    daemon.backport_lazy_zip_invalidation()


class SheetPartition(InputPartition):
    """One selected sheet, or one slice of it (``piece``, an
    ``xlsx_io.SheetSlice``), or a named range. ``first``: the partition
    starts at the sheet's first row, the header row."""

    def __init__(
        self, path: str, sheet: str, range_name: str | None = None,
        piece: xlsx_io.SheetSlice | None = None, first: bool = True,
    ):
        self.path = path
        self.sheet = sheet
        self.range_name = range_name
        self.piece = piece
        self.first = first


def _range_opt(options: dict) -> str | None:
    """.option("range", "MyTable") scans a workbook-level defined name
    (named range) instead of whole sheets — how spreadsheet authors mark
    the data rectangle on a sheet of titles and notes."""
    return options.get("range") or None


def _selected_sheets(wb: xlsx_io.Workbook, options: dict) -> list[str]:
    names, hidden, path = list(wb.sheets), wb.hidden_sheets, wb.path
    # visibleOnly (default true) drops state="hidden"/"veryHidden"
    # sheets from DEFAULT and WILDCARD selection — scratch sheets don't
    # silently pollute a union read. Explicitly-named sheets are always
    # honored: asking for a sheet by name IS the override.
    if str(options.get("visibleOnly", options.get("visibleonly", "true"))
           ).lower() != "false":
        visible = [n for n in names if n not in hidden]
    else:
        visible = names
    sheet_opt = options.get("sheet")
    if sheet_opt in (None, ""):
        return (visible or names)[:1]
    if sheet_opt == "*":
        return visible or names
    if sheet_opt in names:
        # An exact match wins before comma-splitting, so a single sheet
        # whose own name contains a comma (legal in Excel) is selectable;
        # only multi-select lists with such names remain unsupported.
        return [sheet_opt]
    missing = [s for s in sheet_opt.split(",") if s not in names]
    if missing:
        raise ValueError(f"sheet(s) {missing} not in workbook {path} (has {names})")
    return sheet_opt.split(",")


def _fill_merged(options: dict) -> bool:
    """option("mergedCells", "fill") propagates each merged range's
    top-left value across the range (report-layout unpivot); the default
    leaves non-anchor cells None, byte-identical to the pre-option
    reader. Spark lower-cases Python DataSource option keys, so both
    spellings are accepted."""
    v = options.get("mergedCells", options.get("mergedcells", ""))
    return str(v).lower() == "fill"


def _header_and_kinds(path: str, sheet: str, options: dict) -> tuple[list[str], list[str]]:
    """One streaming pass over the first sampleRows rows → sanitized
    names + inferred column kinds."""
    has_header = str(options.get("header", "true")).lower() != "false"
    sample_n = int(options.get("sampleRows", "200"))
    wb = xlsx_io.read_workbook(path)
    try:
        rng = _range_opt(options)
        rows = (
            wb.iter_range(rng)
            if rng
            else wb.iter_rows(sheet, fill_merged=_fill_merged(options))
        )
        first = next(rows, None)
        if first is None:
            return [], []
        if has_header:
            headers: list[Any] = first
            sample = list(itertools.islice(rows, sample_n))
        else:
            headers = [f"col_{i + 1}" for i in range(len(first))]
            sample = [first] + list(itertools.islice(rows, sample_n - 1))
        n_cols = max([len(headers)] + [len(r) for r in sample])
        while len(headers) < n_cols:
            headers.append(f"col_{len(headers) + 1}")
        if str(options.get("sanitize", "true")).lower() != "false":
            names = I.sanitize_headers(headers)
        else:
            names = [str(h) for h in headers]
        return names, I.infer_column_kinds(sample, n_cols)
    finally:
        wb.close()


class XlsxDataSource(DataSource):
    """spark.read.format("xlsx").option("sheet", "...").load(path)"""

    @classmethod
    def name(cls) -> str:
        return "xlsx"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("xlsx source requires a path")
        wb = xlsx_io.read_workbook(path)
        try:
            sheets = _selected_sheets(wb, self.options)
        finally:
            wb.close()
        if not sheets:
            raise ValueError(f"workbook {path} has no sheets")
        # Schema from the first selected sheet; multi-sheet reads union
        # by position under that schema (sheets must be homogeneous,
        # as in sharded-export workbooks).
        names, kinds = _header_and_kinds(path, sheets[0], self.options)
        return I.kinds_to_schema(names, kinds)

    def reader(self, schema: StructType) -> "XlsxReader":
        return XlsxReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> "XlsxWriter":
        return XlsxWriter(schema, dict(self.options), overwrite)


class XlsxReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = options
        self.path = options.get("path")
        self._filters: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept EqualTo filters on string, bigint, double and boolean
        scan columns (applied during decode, pre-Arrow); everything else
        stays with Spark. Those are the columns whose decoded values are
        the Python type the literal arrives as: a timestamp literal
        arrives zone-aware and would never equal a decoded naive
        datetime, dropping every row."""
        names = {
            f.name for f in self.schema.fields
            if f.dataType.simpleString() in ("string", "bigint", "double", "boolean")
        }
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute[0] in names:
                self._filters.append(f)
            else:
                yield f  # unsupported → Spark re-applies

    def partitions(self) -> list[SheetPartition]:
        rng = _range_opt(self.options)
        if rng:  # a named range is one rectangle: one partition
            return [SheetPartition(self.path, "", range_name=rng)]
        fill = _fill_merged(self.options)
        parts = []
        wb = xlsx_io.read_workbook(self.path)
        try:
            for sheet in _selected_sheets(wb, self.options):
                slices = wb.sheet_slices(sheet, fill)
                parts += [
                    SheetPartition(self.path, sheet, piece=piece, first=i == 0)
                    for i, piece in enumerate(slices)
                ] or [SheetPartition(self.path, sheet)]
        finally:
            wb.close()
        return parts

    def read(self, partition: SheetPartition) -> Iterator[tuple]:
        has_header = str(self.options.get("header", "true")).lower() != "false"
        kinds = []
        for f in self.schema.fields:
            t = f.dataType.simpleString()
            kinds.append(t if t in ("boolean", "double", "timestamp", "string") else "long" if t in ("bigint", "long") else t)
        n_cols = len(kinds)
        eq_checks = [
            (i, f.value)
            for f in self._filters
            for i, fld in enumerate(self.schema.fields)
            if isinstance(f, EqualTo) and fld.name == f.attribute[0]
        ]
        wb = xlsx_io.read_workbook(partition.path)
        try:
            if partition.range_name:
                rows = wb.iter_range(partition.range_name)
            else:
                rows = (
                    row
                    for batch in wb.row_batches(
                        partition.sheet, _fill_merged(self.options), partition.piece
                    )
                    for _, row in batch
                )
            if has_header and partition.first:
                next(rows, None)
            for row in rows:
                vals = tuple(
                    I.coerce(row[i] if i < len(row) else None, kinds[i]) for i in range(n_cols)
                )
                if any(vals[i] != v for i, v in eq_checks):
                    continue
                yield vals
        finally:
            wb.close()


def planned_scan(spark, options: dict, schema: StructType | None = None):
    """The rows ``spark.read.format("xlsx")`` gives for ``options``,
    planned on the driver.

    ``schema()`` (unless ``schema`` is declared) and ``partitions()`` run
    here, in-process; only ``read()`` runs on the Python workers, one
    task per partition in a single ``mapInArrow`` stage, its rows turned
    into Arrow by the converter Spark uses for Python data sources.
    """
    source = XlsxDataSource(CaseInsensitiveDict(options))
    if schema is None:
        schema = source.schema()
    reader = source.reader(schema)
    parts = reader.partitions()
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def read_partitions(batches):
        from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from records_to_arrow_batches(
                    reader.read(parts[i]), batch_rows, schema, source
                )

    n = len(parts)
    return spark.range(0, n, 1, max(n, 1)).mapInArrow(read_partitions, schema)


def register_xlsx_source(spark) -> None:
    """Idempotently register the xlsx format on a session."""
    spark.dataSource.register(XlsxDataSource)


class XlsxWriter(DataSourceWriter):
    """``df.write.format("xlsx").save(dir)`` — parquet-style directory
    semantics: each partition writes its own ``part-*.xlsx`` (xlsx is a
    zip, not appendable — one file per task is the only write shape
    that scales horizontally), ``commit`` drops ``_SUCCESS``. Sheet
    name via ``.option("sheet", ...)``; a single combined workbook is a
    driver-side concern (collect + write_workbook) for small results.
    """

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self.schema = schema
        self.options = options
        self.path = options.get("path")
        if not self.path:
            raise ValueError("xlsx writer requires a path")
        self.sheet = options.get("sheet") or "Sheet1"
        self.overwrite = overwrite
        import os
        import uuid

        # Tasks write into a staging dir that only commit() promotes —
        # destroying the old output in __init__ would make a failed job
        # lose it with abort() unable to restore (overwrite must be
        # failure-atomic: old data survives until the new data is whole).
        self.staging = os.path.join(
            os.path.dirname(os.path.abspath(self.path)) or ".",
            f"._staging-{os.path.basename(self.path)}-{uuid.uuid4().hex}",
        )
        os.makedirs(self.staging, exist_ok=True)

    def write(self, iterator) -> WriterCommitMessage:
        import os
        import uuid

        rows = [tuple(r) for r in iterator]
        part = f"part-{uuid.uuid4().hex}.xlsx"
        if rows:  # empty partitions write nothing (parquet convention)
            xlsx_io.write_workbook(
                os.path.join(self.staging, part),
                {self.sheet: ([f.name for f in self.schema.fields], rows)},
            )
        return WriterCommitMessage()

    def commit(self, messages) -> None:
        import os
        import shutil

        with open(os.path.join(self.staging, "_SUCCESS"), "w"):
            pass
        if self.overwrite:
            shutil.rmtree(self.path, ignore_errors=True)
            os.rename(self.staging, self.path)  # atomic promote
        else:  # append: adopt staged parts into the existing directory
            os.makedirs(self.path, exist_ok=True)
            for name in os.listdir(self.staging):
                os.replace(
                    os.path.join(self.staging, name), os.path.join(self.path, name)
                )
            shutil.rmtree(self.staging, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)
