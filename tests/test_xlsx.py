"""Unit tests for the stdlib xlsx parser/writer and schema inference
(SURVEY.md §5.4: shared strings, inline strings, date serials incl. the
1900 leap-year quirk, empty cells, ragged rows, type promotion,
multi-sheet)."""

from __future__ import annotations

import zipfile
from datetime import datetime

import pytest

from xlsx_to_database_spark.sources.infer import (
    infer_column_kinds,
    sanitize_headers,
    sanitize_identifier,
)
from xlsx_to_database_spark.sources.xlsx_io import (
    datetime_to_excel_serial,
    excel_serial_to_datetime,
    read_workbook,
    write_workbook,
)


# ---------------------------------------------------------------------------
# Date serials
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "serial,expected",
    [
        (1, datetime(1900, 1, 1)),
        (59, datetime(1900, 2, 28)),
        (60, datetime(1900, 2, 28)),  # phantom 1900-02-29 → clamped to Feb 28
        (61, datetime(1900, 3, 1)),
        (45352, datetime(2024, 3, 1)),
        (45352.4375, datetime(2024, 3, 1, 10, 30)),
    ],
)
def test_serial_to_datetime(serial, expected):
    assert excel_serial_to_datetime(serial) == expected


@pytest.mark.parametrize(
    "dt",
    [
        datetime(1900, 1, 1),
        datetime(1900, 2, 28),
        datetime(1900, 3, 1),
        datetime(1899, 6, 15),
        datetime(2024, 3, 1, 10, 30, 45),
        datetime(1995, 12, 31, 23, 59, 59),
    ],
)
def test_serial_round_trip(dt):
    assert excel_serial_to_datetime(datetime_to_excel_serial(dt)) == dt


# ---------------------------------------------------------------------------
# Writer → reader round trip
# ---------------------------------------------------------------------------


def test_workbook_round_trip(tmp_path):
    path = str(tmp_path / "rt.xlsx")
    rows = [
        (1, "hello", 2.5, True, datetime(2024, 1, 2, 3, 4, 5)),
        (2, "wörld & <xml>", -1.0, False, datetime(1900, 2, 28)),
        (3, None, None, None, None),
    ]
    write_workbook(path, {"s1": (["id", "txt", "val", "ok", "at"], rows)})
    wb = read_workbook(path)
    got = list(wb.iter_rows("s1"))
    assert got[0] == ["id", "txt", "val", "ok", "at"]
    assert got[1] == [1, "hello", 2.5, True, datetime(2024, 1, 2, 3, 4, 5)]
    assert got[2][1] == "wörld & <xml>"  # xml escaping survives
    assert got[2][4] == datetime(1900, 2, 28)
    assert got[3] == [3]  # trailing empty cells are simply absent (ragged)


def test_multisheet_and_shared_string_dedup(tmp_path):
    path = str(tmp_path / "ms.xlsx")
    write_workbook(
        path,
        {
            "a": (["k", "v"], [(1, "same"), (2, "same")]),
            "b": (["k", "v"], [(3, "same")]),
        },
    )
    wb = read_workbook(path)
    assert list(wb.sheets) == ["a", "b"]
    assert [r[1] for r in list(wb.iter_rows("b"))[1:]] == ["same"]
    # 'same' must appear once in the shared-string table
    assert wb.shared_strings.count("same") == 1


def test_inline_strings_and_ragged_rows(tmp_path):
    """Hand-built sheet (not via our writer): inline strings, gaps in
    cell refs, formula-string cells."""
    path = str(tmp_path / "hand.xlsx")
    sheet = (
        '<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        '<row r="1"><c r="A1" t="inlineStr"><is><t>h1</t></is></c><c r="C1" t="inlineStr"><is><t>h3</t></is></c></row>'
        '<row r="2"><c r="A2"><v>5</v></c><c r="B2" t="str"><v>calc</v></c></row>'
        "</sheetData></worksheet>"
    )
    wb_xml = (
        '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="only" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="x/worksheet" Target="worksheets/sheet1.xml"/></Relationships>'
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", wb_xml)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    wb = read_workbook(path)
    rows = list(wb.iter_rows("only"))
    assert rows[0] == ["h1", None, "h3"]  # gap at B1 → None
    assert rows[1] == [5, "calc"]


# ---------------------------------------------------------------------------
# Inference + sanitization
# ---------------------------------------------------------------------------


def test_inference_lattice():
    rows = [
        [True, 1, 1, "x", 1, datetime(2024, 1, 1), None],
        [False, 2, 1.5, "y", "s", datetime(2024, 1, 2), None],
        [None, None, None, None, None, None, None],
    ]
    kinds = infer_column_kinds(rows, 7)
    assert kinds == ["boolean", "long", "double", "string", "string", "timestamp", "string"]


def test_bool_plus_number_degrades_to_string():
    assert infer_column_kinds([[True], [1]], 1) == ["string"]
    assert infer_column_kinds([[datetime(2024, 1, 1)], [1.0]], 1) == ["string"]


def test_sanitize_identifier():
    assert sanitize_identifier("Order ID") == "order_id"
    assert sanitize_identifier("  Total $ (net) ") == "total_net"
    assert sanitize_identifier("2024 forecast") == "c_2024_forecast"
    assert sanitize_identifier("___") == "col"
    assert sanitize_headers(["A", "a", "a"]) == ["a", "a_2", "a_3"]


# ---------------------------------------------------------------------------
# Data source integration: sheet option + pushdown path
# ---------------------------------------------------------------------------


def test_datasource_sheet_filter_and_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from xlsx_to_database_spark.sources.xlsx import register_xlsx_source

    register_xlsx_source(spark)
    path = str(tmp_path / "ds.xlsx")
    write_workbook(
        path,
        {
            "t1": (["k", "grp"], [(1, "a"), (2, "b"), (3, "a")]),
            "t2": (["k", "grp"], [(4, "b")]),
        },
    )
    df = spark.read.format("xlsx").option("sheet", "t1").load(path)
    assert df.count() == 3
    # EqualTo filter is pushed into the Python reader (and results stay correct)
    got = df.filter(F.col("grp") == "a").select("k").collect()
    assert sorted(r.k for r in got) == [1, 3]
    both = spark.read.format("xlsx").option("sheet", "*").load(path)
    assert both.count() == 4
    with pytest.raises(Exception):
        spark.read.format("xlsx").option("sheet", "nope").load(path).collect()


def test_shared_string_skips_phonetic_runs(tmp_path):
    # IME-authored files carry furigana <rPh> runs inside <si>; only the
    # visible text (direct <t> and rich-text <r><t>) must be decoded.
    import zipfile

    from xlsx_to_database_spark.sources.xlsx_io import read_workbook, write_workbook

    path = str(tmp_path / "ime.xlsx")
    write_workbook(path, {"s": (["h"], [("placeholder",)])})
    with zipfile.ZipFile(path) as zf:
        members = {n: zf.read(n) for n in zf.namelist()}
    members["xl/sharedStrings.xml"] = (
        b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        b'<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        b'count="2" uniqueCount="2">'
        b"<si><t>h</t></si>"
        b"<si><t>\xe6\xbc\xa2\xe5\xad\x97</t>"
        b"<rPh sb=\"0\" eb=\"2\"><t>\xe3\x81\x8b\xe3\x82\x93\xe3\x81\x98</t></rPh>"
        b"<phoneticPr fontId=\"1\"/></si></sst>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        for n, data in members.items():
            zf.writestr(n, data)
    wb = read_workbook(path)
    rows = list(wb.iter_rows("s"))
    wb.close()
    assert rows[1] == ["漢字"]  # not 漢字かんじ


def test_rich_text_runs_are_concatenated(tmp_path):
    import zipfile

    from xlsx_to_database_spark.sources.xlsx_io import read_workbook, write_workbook

    path = str(tmp_path / "rich.xlsx")
    write_workbook(path, {"s": (["h"], [("x",)])})
    with zipfile.ZipFile(path) as zf:
        members = {n: zf.read(n) for n in zf.namelist()}
    members["xl/sharedStrings.xml"] = (
        b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        b'<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        b'count="2" uniqueCount="2">'
        b"<si><t>h</t></si>"
        b"<si><r><rPr><b/></rPr><t>bold</t></r><r><t xml:space=\"preserve\"> plain</t></r></si>"
        b"</sst>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        for n, data in members.items():
            zf.writestr(n, data)
    wb = read_workbook(path)
    rows = list(wb.iter_rows("s"))
    wb.close()
    assert rows[1] == ["bold plain"]


def test_numfmt_is_the_only_date_signal(spark, tmp_path):
    """Round-4 verdict #7: a serial-date cell whose ONLY date signal is
    its number format (styles.xml numFmtId) must decode as a datetime —
    no ISO text, no writer-default s=\"1\" style. Covers a foreign
    writer's styles.xml: builtin date id (14) at a non-default xf index,
    a custom numFmt whose code is a date, and the negative control where
    y/m/d tokens appear only inside quotes (not a date)."""
    import zipfile

    from xlsx_to_database_spark.sources.xlsx_io import read_workbook, write_workbook

    path = str(tmp_path / "fmt.xlsx")
    write_workbook(path, {"s": (["bdate", "cdate", "amount", "plain"], [(0, 0, 0, 0)])})
    with zipfile.ZipFile(path) as zf:
        members = {n: zf.read(n) for n in zf.namelist()}
    members["xl/styles.xml"] = (
        b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        b'<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        b'<numFmts count="2">'
        b'<numFmt numFmtId="164" formatCode="dd/mm/yyyy\\ hh:mm"/>'
        b'<numFmt numFmtId="165" formatCode="0.00&quot;dy&quot;"/>'
        b"</numFmts>"
        b'<fonts count="1"><font/></fonts><fills count="1"><fill/></fills>'
        b'<borders count="1"><border/></borders>'
        b"<cellStyleXfs count=\"1\"><xf/></cellStyleXfs>"
        b'<cellXfs count="4"><xf numFmtId="0"/>'
        b'<xf numFmtId="14" applyNumberFormat="1"/>'
        b'<xf numFmtId="164" applyNumberFormat="1"/>'
        b'<xf numFmtId="165" applyNumberFormat="1"/>'
        b"</cellXfs></styleSheet>"
    )
    # Row 2: every cell is a bare <v> serial — the style index is the
    # only signal distinguishing dates from plain numbers.
    sheet = members["xl/worksheets/sheet1.xml"].decode()
    old_row = sheet[sheet.index('<row r="2">') : sheet.index("</row>", sheet.index('<row r="2">')) + 6]
    members["xl/worksheets/sheet1.xml"] = sheet.replace(
        old_row,
        '<row r="2">'
        '<c r="A2" s="1"><v>45352.4375</v></c>'
        '<c r="B2" s="2"><v>45292.25</v></c>'
        '<c r="C2" s="3"><v>45352.4375</v></c>'
        '<c r="D2"><v>45352.4375</v></c>'
        "</row>",
    ).encode()
    with zipfile.ZipFile(path, "w") as zf:
        for n, data in members.items():
            zf.writestr(n, data)
    wb = read_workbook(path)
    rows = list(wb.iter_rows("s"))
    wb.close()
    assert rows[1][0] == datetime(2024, 3, 1, 10, 30)  # builtin id 14
    assert rows[1][1] == datetime(2024, 1, 1, 6, 0)  # custom date format
    assert rows[1][2] == 45352.4375  # quoted "dy" is not a date token
    assert rows[1][3] == 45352.4375  # unstyled stays numeric

    # And the full Spark scan path types the columns accordingly.
    from xlsx_to_database_spark.sources.xlsx import register_xlsx_source

    register_xlsx_source(spark)
    df = spark.read.format("xlsx").load(path)
    kinds = dict(df.dtypes)
    assert kinds["bdate"] == "timestamp" and kinds["cdate"] == "timestamp"
    assert kinds["amount"] == "double" and kinds["plain"] == "double"
    got = df.collect()[0]
    assert got["bdate"] == datetime(2024, 3, 1, 10, 30)
    assert got["cdate"] == datetime(2024, 1, 1, 6, 0)


def test_coerce_off_sample_misfit_degrades_to_null():
    from datetime import datetime

    from xlsx_to_database_spark.sources.infer import coerce

    assert coerce("N/A", "long") is None
    assert coerce("N/A", "double") is None
    assert coerce(1.5, "long") is None
    assert coerce(True, "long") is None
    assert coerce(3.0, "timestamp") is None
    assert coerce(datetime(2024, 1, 1), "timestamp") == datetime(2024, 1, 1)
    assert coerce(7, "double") == 7.0
    assert coerce(False, "string") == "false"


def test_xlsx_write_path_round_trip(spark, tmp_path):
    # df.write.format("xlsx") → directory of part-*.xlsx + _SUCCESS;
    # reading every part back re-assembles the exact rows.
    import glob

    from pyspark.sql import functions as F

    from xlsx_to_database_spark.sources.xlsx import register_xlsx_source

    register_xlsx_source(spark)
    src = (
        spark.read.parquet("/root/testdata/sf0.001/region.parquet")
        .withColumn("score", F.col("r_regionkey") * 1.5)
    )
    out = str(tmp_path / "xlsx_out")
    src.repartition(2).write.format("xlsx").option("sheet", "regions").mode(
        "overwrite"
    ).save(out)

    parts = glob.glob(out + "/part-*.xlsx")
    assert parts and len(parts) <= 2
    import os

    assert os.path.exists(out + "/_SUCCESS")
    back = None
    for p in parts:
        df = spark.read.format("xlsx").option("sheet", "regions").load(p)
        back = df if back is None else back.unionByName(df)
    got = sorted(map(tuple, back.collect()))
    want = sorted(map(tuple, src.collect()))
    assert got == want


def test_merged_cells_fill(tmp_path):
    """A merged range's anchor value propagates to every covered cell
    under fill_merged=True and stays None without it."""
    import zipfile

    from xlsx_to_database_spark.sources.xlsx_io import read_workbook, write_workbook

    path = str(tmp_path / "merged.xlsx")
    write_workbook(
        path,
        {"s": (["g", "v"], [("alpha", 1), (None, 2), (None, 3), ("beta", 4)])},
    )
    with zipfile.ZipFile(path) as zf:
        members = {n: zf.read(n) for n in zf.namelist()}
    sheet = members["xl/worksheets/sheet1.xml"].decode()
    members["xl/worksheets/sheet1.xml"] = sheet.replace(
        "</worksheet>",
        '<mergeCells count="1"><mergeCell ref="A2:A4"/></mergeCells></worksheet>',
    ).encode()
    with zipfile.ZipFile(path, "w") as zf:
        for n, data in members.items():
            zf.writestr(n, data)
    wb = read_workbook(path)
    assert wb.merged_ranges("s") == [(1, 0, 3, 0)]
    plain = list(wb.iter_rows("s"))
    filled = list(wb.iter_rows("s", fill_merged=True))
    wb.close()
    assert [r[0] for r in plain[1:]] == ["alpha", None, None, "beta"]
    assert [r[0] for r in filled[1:]] == ["alpha", "alpha", "alpha", "beta"]


def test_formula_cells_decode_cached_values_inline_xml(tmp_path):
    """A formula cell stores <f>expr</f> plus the last-evaluated <v>;
    readers that don't evaluate formulas (ours, by design) must surface
    the cached value — numeric for t='n', literal text for t='str' —
    not None and not the formula text."""
    import zipfile

    from xlsx_to_database_spark.sources.xlsx_io import read_workbook, write_workbook

    path = str(tmp_path / "formula.xlsx")
    write_workbook(path, {"s": (["a", "b"], [(0.0, "x")])})
    with zipfile.ZipFile(path) as zf:
        members = {n: zf.read(n) for n in zf.namelist()}
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    members["xl/worksheets/sheet1.xml"] = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{ns}"><sheetData>'
        f'<row r="1"><c r="A1" t="str"><v>a</v></c>'
        f'<c r="B1" t="str"><v>b</v></c></row>'
        f'<row r="2"><c r="A2"><f>1+1</f><v>2</v></c>'
        f'<c r="B2" t="str"><f>CONCAT("a","b")</f><v>ab</v></c></row>'
        f"</sheetData></worksheet>"
    ).encode()
    with zipfile.ZipFile(path, "w") as zf:
        for n, data in members.items():
            zf.writestr(n, data)
    wb = read_workbook(path)
    rows = list(wb.iter_rows("s"))
    wb.close()
    assert rows[1] == [2, "ab"]


def test_date1904_system_shifts_the_epoch(tmp_path):
    """A workbook with <workbookPr date1904="1"/> counts serials from
    1904-01-01 (no phantom leap day); the same serial read without the
    flag must land 4 years + 1 day later — both decodes are pinned so
    the flag is proven to be read, not defaulted."""
    import zipfile

    from xlsx_to_database_spark.sources.xlsx_io import read_workbook, write_workbook

    def build(path, date1904):
        write_workbook(path, {"s": (["d"], [(0.0,)])})
        with zipfile.ZipFile(path) as zf:
            members = {n: zf.read(n) for n in zf.namelist()}
        ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        pr = '<workbookPr date1904="1"/>' if date1904 else ""
        wb = members["xl/workbook.xml"].decode()
        wb = wb.replace("<sheets>", f"{pr}<sheets>")
        members["xl/workbook.xml"] = wb.encode()
        # serial 100.5 with the default date style (s=1 exists from the
        # writer's date style? use a styles-carrying cell): reuse numFmt
        # machinery by writing styles.xml with style 1 = date
        members["xl/styles.xml"] = (
            f'<?xml version="1.0"?><styleSheet xmlns="{ns}">'
            f'<cellXfs count="2"><xf numFmtId="0"/>'
            f'<xf numFmtId="14" applyNumberFormat="1"/></cellXfs>'
            f"</styleSheet>"
        ).encode()
        members["xl/worksheets/sheet1.xml"] = (
            f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
            f'<row r="1"><c r="A1" t="str"><v>d</v></c></row>'
            f'<row r="2"><c r="A2" s="1"><v>100.5</v></c></row>'
            f"</sheetData></worksheet>"
        ).encode()
        with zipfile.ZipFile(path, "w") as zf:
            for n, data in members.items():
                zf.writestr(n, data)

    import datetime as dt

    p04 = str(tmp_path / "mac.xlsx")
    build(p04, True)
    wb = read_workbook(p04)
    assert wb.date1904 is True
    v04 = list(wb.iter_rows("s"))[1][0]
    wb.close()
    assert v04 == dt.datetime(1904, 4, 10, 12, 0)

    p00 = str(tmp_path / "win.xlsx")
    build(p00, False)
    wb = read_workbook(p00)
    assert wb.date1904 is False
    v00 = list(wb.iter_rows("s"))[1][0]
    wb.close()
    assert v00 == dt.datetime(1900, 4, 9, 12, 0)


def test_defined_names_parse_and_range_slice(tmp_path):
    """definedNames round-trip through the writer, quoted sheet names
    and $-absolute refs resolve, non-rectangular refs are skipped, and
    iter_range slices rows AND columns to the rectangle."""
    import zipfile

    from xlsx_to_database_spark.sources.xlsx_io import read_workbook, write_workbook

    path = str(tmp_path / "named.xlsx")
    write_workbook(
        path,
        {"my data": (["a", "b", "c"],
                     [(1, "x", 10), (2, "y", 20), (3, "z", 30)])},
        defined_names={
            "mid": "'my data'!$B$2:$C$3",
            "one_cell": "'my data'!B4",
            "broken": "#REF!",
            "formulaic": "OFFSET('my data'!A1,0,0)",
        },
    )
    wb = read_workbook(path)
    dns = wb.defined_names
    assert dns["mid"] == ("my data", 1, 1, 2, 2)
    assert dns["one_cell"] == ("my data", 3, 1, 3, 1)
    assert "broken" not in dns and "formulaic" not in dns
    assert list(wb.iter_range("mid")) == [["x", 10.0], ["y", 20.0]]
    assert list(wb.iter_range("one_cell")) == [["z"]]
    try:
        list(wb.iter_range("nope"))
        raise AssertionError("expected KeyError")
    except KeyError:
        pass
    finally:
        wb.close()
    # sparse-row safety: drop row 3 entirely from the sheet XML — the
    # range slice must follow TRUE row numbers, not yield positions
    with zipfile.ZipFile(path) as zf:
        members = {n: zf.read(n) for n in zf.namelist()}
    sheet = members["xl/worksheets/sheet1.xml"].decode()
    import re

    sheet2 = re.sub(r'<row r="3">.*?</row>', "", sheet)
    assert sheet2 != sheet
    members["xl/worksheets/sheet1.xml"] = sheet2.encode()
    with zipfile.ZipFile(path, "w") as zf:
        for n, data in members.items():
            zf.writestr(n, data)
    wb = read_workbook(path)
    assert list(wb.iter_range("mid")) == [["x", 10.0]]
    wb.close()


def test_datasource_named_range_scan(spark, tmp_path):
    """.option('range', name) returns exactly the named rectangle —
    title/noise/footer rows outside the name never reach the DataFrame."""
    from xlsx_to_database_spark.sources.xlsx_io import write_workbook
    from xlsx_to_database_spark.sources.xlsx import register_xlsx_source

    register_xlsx_source(spark)
    path = str(tmp_path / "report.xlsx")
    rows = [
        ("internal use only", None),
        ("metric", "amount"),
        ("alpha", 10),
        ("beta", 20),
        ("total", 30),
    ]
    write_workbook(
        path,
        {"report": (["Q3 report", ""], rows)},
        defined_names={"tbl": "report!$A$3:$B$5"},
    )
    df = spark.read.format("xlsx").option("range", "tbl").load(path)
    got = sorted((r.metric, r.amount) for r in df.collect())
    assert got == [("alpha", 10), ("beta", 20)]
    assert df.columns == ["metric", "amount"]


def test_hidden_sheets_excluded_from_wildcard_not_by_name(spark, tmp_path):
    """state='hidden' sheets drop out of default/wildcard selection
    (visibleOnly default) but stay readable when named explicitly or
    with visibleOnly=false."""
    import zipfile

    from xlsx_to_database_spark.sources.xlsx import register_xlsx_source
    from xlsx_to_database_spark.sources.xlsx_io import read_workbook, write_workbook

    register_xlsx_source(spark)
    path = str(tmp_path / "hidden.xlsx")
    write_workbook(
        path,
        {
            "vis1": (["k", "v"], [(1, 10)]),
            "scratch": (["k", "v"], [(2, 20)]),
            "vis2": (["k", "v"], [(3, 30)]),
        },
    )
    with zipfile.ZipFile(path) as zf:
        members = {n: zf.read(n) for n in zf.namelist()}
    wbxml = members["xl/workbook.xml"].decode()
    wbxml = wbxml.replace(
        '<sheet name="scratch" sheetId="2"',
        '<sheet name="scratch" state="hidden" sheetId="2"',
    )
    assert 'state="hidden"' in wbxml
    members["xl/workbook.xml"] = wbxml.encode()
    with zipfile.ZipFile(path, "w") as zf:
        for n, data in members.items():
            zf.writestr(n, data)

    wb = read_workbook(path)
    assert wb.hidden_sheets == {"scratch"}
    wb.close()
    # wildcard: hidden sheet's row 2/20 must NOT appear
    got = {
        (r.k, r.v)
        for r in spark.read.format("xlsx").option("sheet", "*").load(path).collect()
    }
    assert got == {(1, 10), (3, 30)}
    # named explicitly: readable
    got2 = {
        (r.k, r.v)
        for r in spark.read.format("xlsx").option("sheet", "scratch").load(path).collect()
    }
    assert got2 == {(2, 20)}
    # visibleOnly=false: wildcard includes it
    got3 = {
        (r.k, r.v)
        for r in spark.read.format("xlsx")
        .option("sheet", "*")
        .option("visibleOnly", "false")
        .load(path)
        .collect()
    }
    assert got3 == {(1, 10), (2, 20), (3, 30)}


def test_formula_cells_decode_cached_values(tmp_path):
    """Formula cells must yield their cached <v> — incl. a shared-
    formula follower that carries NO formula text — and an error-result
    formula must decode to None, not the '#DIV/0!' literal."""
    from xlsx_to_database_spark.queries.sources_sinks import (
        _stage_formula_workbook,
    )
    from xlsx_to_database_spark.sources.xlsx_io import read_workbook

    path = str(tmp_path / "formulas.xlsx")
    _stage_formula_workbook(path)
    wb = read_workbook(path)
    rows = list(wb.iter_rows("calc"))
    wb.close()
    assert rows[0] == ["item", "qty", "price", "total", "label"]
    assert rows[1] == ["a", 2, 3.5, 7, "x-7"]       # plain + str formula
    assert rows[2] == ["b", 4, 2.25, 9, "plain1"]   # shared master
    assert rows[3] == ["c", 5, 3, 15, "plain2"]     # shared follower
    assert rows[4] == ["d", 1, 0, None, "plain3"]   # error -> NULL
