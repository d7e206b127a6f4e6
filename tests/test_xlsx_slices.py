"""A big sheet read in slices gives the rows of the unsplit read.

``partitions()`` splits a sheet whose XML exceeds ``xlsx_io.SLICE_BYTES``
into row-aligned byte ranges. The workbooks here put every feature the
decoder handles across a slice boundary: a gap before every row, a
merged range crossing the cut, shared strings, inline rich text with a
phonetic run, ``_xHHHH_`` escapes, date styles on either epoch and a
namespace prefix on every element. The decoder is also checked against
an ``ElementTree`` reference implementation of the same contract.
"""

from __future__ import annotations

import zipfile
from xml.etree import ElementTree as ET

import pytest
from pyspark.sql.datasource import EqualTo

from tools.check_correctness import value_hash
from xlsx_to_database_spark.sources import xlsx_io
from xlsx_to_database_spark.sources.xlsx import XlsxDataSource
from xlsx_to_database_spark.sources.xlsx_io import read_workbook, write_workbook

MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
ROWS = 1500
HEADER = ["id", "kind", "rich", "esc", "at", "flag", "amt"]


def _sheet_xml(p: str, merge: str | None) -> str:
    """Header row 1, then data rows 3, 5, 7, ... (a gap before each)."""

    def cell(ref, body, attrs=""):
        return f'<{p}c r="{ref}"{attrs}>{body}</{p}c>'

    def text(s):
        return f"<{p}is><{p}t>{s}</{p}t></{p}is>"

    rows = [
        f'<{p}row r="1">'
        + "".join(cell(f"{chr(65 + i)}1", text(h), ' t="inlineStr"') for i, h in enumerate(HEADER))
        + f"</{p}row>"
    ]
    for i in range(ROWS):
        r = 2 * i + 3
        cells = [
            cell(f"A{r}", f"<{p}v>{i}</{p}v>"),
            cell(f"B{r}", f"<{p}v>{i % 3}</{p}v>", ' t="s"'),
            cell(
                f"C{r}",
                f"<{p}is><{p}r><{p}t>ab</{p}t></{p}r><{p}r><{p}t>c{i}</{p}t></{p}r>"
                f'<{p}rPh sb="0" eb="1"><{p}t>ア</{p}t></{p}rPh></{p}is>',
                ' t="inlineStr"',
            ),
            cell(f"D{r}", f"<{p}v>x_x000D_y{i}</{p}v>", ' t="str"'),
            cell(f"E{r}", f"<{p}v>{40000 + i}.25</{p}v>", ' s="1"'),
            cell(f"F{r}", f"<{p}v>{i % 2}</{p}v>", ' t="b"'),
        ]
        if i % 5:
            cells.append(cell(f"G{r}", f"<{p}f>A{r}+0.25</{p}f><{p}v>{i}.25</{p}v>"))
        rows.append(f'<{p}row r="{r}">' + "".join(cells) + f"</{p}row>")
    merges = f'<{p}mergeCells count="1"><{p}mergeCell ref="{merge}"/></{p}mergeCells>' if merge else ""
    root = f'{p}worksheet xmlns{":" + p[:-1] if p else ""}="{MAIN}"'
    return (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><{root}>'
        f"<{p}sheetData>{''.join(rows)}</{p}sheetData>{merges}</{p}worksheet>"
    )


def _write(path: str, p: str, date1904: bool, merge: str | None) -> None:
    write_workbook(path, {"s": (["x"], [("kind0",), ("kind1",), ("kind2",)])})
    with zipfile.ZipFile(path) as zf:
        parts = {n: zf.read(n).decode() for n in zf.namelist()}
    # The writer's shared strings are "x", "kind0", "kind1", "kind2".
    parts["xl/sharedStrings.xml"] = (
        f'<?xml version="1.0"?><sst xmlns="{MAIN}">'
        "<si><t>kind0</t></si><si><r><t>ki</t></r><r><t>nd1</t></r></si>"
        '<si><t>kind2</t><rPh sb="0" eb="1"><t>カ</t></rPh></si></sst>'
    )
    parts["xl/worksheets/sheet1.xml"] = _sheet_xml(p, merge)
    if date1904:
        parts["xl/workbook.xml"] = parts["xl/workbook.xml"].replace(
            "<sheets>", '<workbookPr date1904="1"/><sheets>'
        )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, body in parts.items():
            zf.writestr(name, body)


def _cut_rows(path: str) -> list[int]:
    """0-based row number of each slice's first row (after the first)."""
    wb = read_workbook(path)
    try:
        return [
            next(iter(wb.row_batches("s", piece=piece)))[0][0]
            for piece in wb.sheet_slices("s")[1:]
        ]
    finally:
        wb.close()


@pytest.fixture(scope="module", params=["plain", "prefixed_1904"])
def book(request, tmp_path_factory):
    """A workbook whose one sheet is read in slices, with a merged
    range G:H around the first cut."""
    p, date1904 = ("x:", True) if request.param == "prefixed_1904" else ("", False)
    path = str(tmp_path_factory.mktemp("slices") / f"{request.param}.xlsx")
    _write(path, p, date1904, None)
    cut = _cut_rows(path)[0]
    # 1-based, data row i is row 2i + 3; the anchor row has a G value.
    r1 = next(r for r in range(cut - 11, cut, 2) if ((r - 3) // 2) % 5)
    _write(path, p, date1904, f"G{r1}:H{cut + 8}")
    cuts = _cut_rows(path)
    assert cuts and r1 - 1 < cuts[0] <= cut + 7, (r1, cuts)
    with zipfile.ZipFile(path) as zf:
        assert zf.getinfo("xl/worksheets/sheet1.xml").file_size > xlsx_io.SLICE_BYTES
    return path


def _scan(options: dict, filters=()) -> tuple[int, list[tuple], str]:
    """(partitions, rows, value hash) of an in-process read."""
    source = XlsxDataSource(options)
    schema = source.schema()
    reader = source.reader(schema)
    assert list(reader.pushFilters(list(filters))) == []
    parts = reader.partitions()
    rows = [row for part in parts for row in reader.read(part)]
    return len(parts), rows, value_hash(rows, schema.fieldNames())


OPTIONS = {
    "default": ({}, ()),
    "no_header": ({"header": "false"}, ()),
    "fill_merged": ({"mergedCells": "fill"}, ()),
    "equal_to": ({}, (EqualTo(("kind",), "kind1"),)),
}


@pytest.mark.parametrize("case", sorted(OPTIONS))
def test_sliced_read_equals_unsplit_read(book, monkeypatch, case):
    options, filters = OPTIONS[case]
    options = {"path": book, **options}
    n, rows, digest = _scan(options, filters)
    assert n >= 2
    monkeypatch.setattr(xlsx_io, "SLICE_BYTES", 1 << 40)
    n_whole, whole, whole_digest = _scan(options, filters)
    assert n_whole == 1
    assert rows == whole
    assert digest == whole_digest
    assert len(rows) == {"no_header": ROWS + 1, "equal_to": ROWS // 3}.get(case, ROWS)


def test_sliced_rows_decode_every_feature(book):
    wb = read_workbook(book)
    try:
        rows = dict(wb.iter_rows("s", fill_merged=True, numbered=True))
        merged = wb.merged_ranges("s")
    finally:
        wb.close()
    assert rows[0] == HEADER
    r1, _, r2, _ = merged[0]
    for i in (0, 1, ROWS - 1):
        row = rows[2 * i + 2]
        assert row[:4] == [i, ("kind0", "kind1", "kind2")[i % 3], f"abc{i}", f"x\ry{i}"]
        assert row[4] == xlsx_io.excel_serial_to_datetime(40000 + i + 0.25, wb.date1904)
        assert row[5] is bool(i % 2)
    # The fill carries the anchor's G value across G:H of the range.
    anchor = rows[r1][6]
    assert anchor is not None
    for rn in range(r1, r2 + 1, 2):
        assert rows[rn][7] == anchor


def test_engine_and_format_reads_of_a_sliced_sheet_agree(spark, book):
    from xlsx_to_database_spark.api import Engine

    planned = Engine(spark=spark).load_xlsx(book).df
    fmt = spark.read.format("xlsx").load(book)
    assert planned.rdd.getNumPartitions() >= 2 and fmt.rdd.getNumPartitions() >= 2
    p_rows = [tuple(r) for r in planned.collect()]
    f_rows = [tuple(r) for r in fmt.collect()]
    assert len(p_rows) == ROWS
    assert value_hash(p_rows, planned.columns) == value_hash(f_rows, fmt.columns)
    filled = spark.read.format("xlsx").option("mergedCells", "fill").load(book)
    kind1 = filled.filter(filled["kind"] == "kind1")
    got = [tuple(r) for r in kind1.collect()]
    assert len(got) == ROWS // 3
    assert all(r[1] == "kind1" for r in got)


# ---------------------------------------------------------------------------
# The decoder against an ElementTree reference
# ---------------------------------------------------------------------------

NS = "{" + MAIN + "}"


def _ref_text(el) -> str:
    parts = []
    t = el.find(f"{NS}t")
    if t is not None:
        parts.append(t.text or "")
    for r in el.findall(f"{NS}r"):
        rt = r.find(f"{NS}t")
        if rt is not None:
            parts.append(rt.text or "")
    return "".join(parts)


def _ref_rows(wb, sheet: str) -> list[tuple[int, list]]:
    """The rows ``iter_rows(sheet, numbered=True)`` must give, decoded
    with ``ElementTree`` from the whole sheet."""
    shared = []
    if "xl/sharedStrings.xml" in wb._zf.namelist():
        root = ET.fromstring(wb._zf.read("xl/sharedStrings.xml"))
        shared = [xlsx_io.unescape_oox(_ref_text(si)) for si in root.iter(f"{NS}si")]
    out, rn = [], -1
    for el in ET.fromstring(wb._zf.read(wb.sheets[sheet])).iter(f"{NS}row"):
        rn = int(el.get("r", rn + 2)) - 1
        row = []
        for c in el.iter(f"{NS}c"):
            idx = xlsx_io._col_index(c.get("r")) if c.get("r") else len(row)
            row += [None] * (idx - len(row))
            t, v = c.get("t", "n"), c.find(f"{NS}v")
            raw = None if v is None else v.text
            if t == "inlineStr":
                is_el = c.find(f"{NS}is")
                val = None if is_el is None else xlsx_io.unescape_oox(_ref_text(is_el))
            elif raw is None or t == "e":
                val = None
            elif t == "s":
                val = shared[int(raw)]
            elif t == "str":
                val = xlsx_io.unescape_oox(raw)
            elif t == "b":
                val = raw == "1"
            elif int(c.get("s", "-1")) in wb.date_styles:
                val = xlsx_io.excel_serial_to_datetime(float(raw), wb.date1904)
            else:
                num = float(raw)
                plain = num.is_integer() and "e" not in raw.lower() and "." not in raw
                val = int(num) if plain else num
            row.append(val)
        out.append((rn, row))
    return out


@pytest.mark.parametrize("chunk", [7, 1000, 1 << 16])
def test_decoder_matches_reference(book, tmp_path, monkeypatch, chunk):
    monkeypatch.setattr(xlsx_io, "_CHUNK", chunk)
    other = str(tmp_path / "other.xlsx")
    write_workbook(other, {
        "a": (["n", "s", "when"], [(1, "x _x0041_ y", None), (2**60 + 1, "", 1.5e300), (-3, None, 0.1)]),
        "b": (["only"], []),
    })
    for path in (book, other):
        wb = read_workbook(path)
        try:
            for sheet in wb.sheets:
                ref = _ref_rows(wb, sheet)
                assert list(wb.iter_rows(sheet, numbered=True)) == ref
                slices = wb.sheet_slices(sheet)
                if slices:
                    assert [r for s in slices for b in wb.row_batches(sheet, piece=s) for r in b] == ref
        finally:
            wb.close()
