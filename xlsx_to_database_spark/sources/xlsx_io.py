"""Minimal stdlib xlsx (ECMA-376 / OOXML) reader + writer.

No openpyxl in this environment (SURVEY.md §5.4), and the reference
class of tools parses the format directly, so this module implements
the needed subset over ``zipfile`` + ``pyexpat`` (+ ``xml.etree`` for
the small workbook, relationship and style parts):

reader: workbook/sheet enumeration, shared strings, inline strings,
cell type codes (s/b/str/inlineStr/e, default numeric), style-driven
date detection (builtin + custom number formats), Excel date serials
including the 1900 leap-year quirk, ragged rows.

writer: multi-sheet workbooks with shared strings, typed cells
(bool/number/string/datetime with a date style) — used for round-trip
tests and for staging oracle-checkable workbooks from the testdata.

Memory. The reader inflates a worksheet in ``_CHUNK``-byte pieces into
one namespace-aware ``pyexpat`` parser and hands the rows decoded from
each piece to the caller, so a sheet decodes in O(chunk + the rows of
one piece + shared strings) whatever its size. A slice of a sheet
(``sheet_slices``) is decoded the same way, from the document head plus
its own rows, within the same bound. The writer is not streaming:
``write_workbook`` builds each sheet's XML as one string, so it holds
every row of the workbook plus their XML, O(workbook). The xlsx sink
(``XlsxWriter.write``) lists its whole Spark partition and writes it as
one workbook, so an export partition must fit in a worker's memory.

Slicing. A sheet whose uncompressed XML exceeds ``SLICE_BYTES`` is read
as several byte ranges, each starting at a ``<row`` start tag, so one
big sheet decodes on several cores. ``ZipInfo.file_size`` gives the size
without inflating anything. 384 KiB of sheet XML is about a thousand
rows of an 11-column numeric sheet, some 30 ms of decode on one core; a
much smaller slice would spend about as long on its task's fixed cost
(scheduling, opening the workbook, reading its shared strings and
styles) as on decoding. Sheets of a few hundred KB stay whole.
"""

from __future__ import annotations

import math
import pyexpat
import re
import zipfile
from datetime import datetime, timedelta
from typing import Any, Iterator, NamedTuple
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape, quoteattr

_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
NS = "{" + _MAIN + "}"
REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"

#: Uncompressed worksheet XML above which a sheet is read in slices.
SLICE_BYTES = 384 << 10

#: Bytes of a zip member inflated and parsed per step.
_CHUNK = 1 << 16

# pyexpat names a namespaced element "<namespace URI> <local name>".
_NAMES = (_ROW, _C, _V, _IS, _R, _T, _SI, _MERGE) = tuple(
    f"{_MAIN} {n}" for n in ("row", "c", "v", "is", "r", "t", "si", "mergeCell")
)

#: Excel built-in number-format ids that render as dates/times.
_DATE_BUILTIN_FMTS = set(range(14, 23)) | set(range(45, 48))

# OOXML string escaping (ECMA-376 §18.4): characters illegal in XML 1.0
# (C0 controls except \t \n \r, and U+FFFE/FFFF) are stored as _xHHHH_;
# a literal substring that *looks* like such an escape gets its leading
# underscore escaped as _x005F_. \r is legal XML but escaped anyway
# (as Excel does): XML parsers normalize \r → \n in text content, so a
# literal \r cannot round-trip unescaped.
_OOX_SEQ = re.compile(r"_x([0-9A-Fa-f]{4})_")
_XML_ILLEGAL = re.compile(r"[\x00-\x08\x0b-\x0c\x0d\x0e-\x1f￾￿]")


def escape_oox(s: str) -> str:
    """Escape a Python string for storage in an OOXML ``<t>`` element."""
    s = _OOX_SEQ.sub(lambda m: f"_x005F_x{m.group(1)}_", s)
    return _XML_ILLEGAL.sub(lambda m: f"_x{ord(m.group(0)):04X}_", s)


def unescape_oox(s: str) -> str:
    """Inverse of :func:`escape_oox` (also decodes files Excel wrote)."""
    if "_x" not in s:
        return s
    return _OOX_SEQ.sub(lambda m: chr(int(m.group(1), 16)), s)


# Epochs for Excel's 1900 date system. Serials ≥ 61 are relative to
# 1899-12-30 (absorbing the phantom 1900-02-29); serials ≤ 59 to
# 1899-12-31. Serial 60 *is* the phantom leap day — mapped to Feb 28.
_EPOCH_POST = datetime(1899, 12, 30)
_EPOCH_PRE = datetime(1899, 12, 31)


def excel_serial_to_datetime(serial: float, date1904: bool = False) -> datetime:
    """Excel date serial → datetime (SURVEY.md §5.4: the 1900-leap-year
    quirk is handled, not ignored). Result is rounded to the
    millisecond — a float64 day-serial only carries ~µs precision
    around modern dates, and sub-ms noise from the round-trip would
    otherwise leak into timestamps.

    ``date1904``: workbooks written with ``<workbookPr date1904="1"/>``
    (classic Mac Excel) count days from 1904-01-01 and have NO phantom
    1900-02-29 — ignoring the flag reads every date 4 years + 1 day
    early, silently."""
    if date1904:
        return datetime(1904, 1, 1) + timedelta(
            milliseconds=round(serial * 86400e3)
        )
    if serial >= 61:
        epoch, days = _EPOCH_POST, serial
    elif serial >= 60:  # the phantom 1900-02-29 → clamp to Feb 28
        epoch, days = datetime(1900, 2, 28), serial - 60
    else:
        epoch, days = _EPOCH_PRE, serial
    return epoch + timedelta(milliseconds=round(days * 86400e3))


def datetime_to_excel_serial(dt: datetime) -> float:
    delta = dt - _EPOCH_POST
    serial = delta.days + delta.seconds / 86400 + delta.microseconds / 86400e6
    if serial < 61:  # dates before 1900-03-01 sit on the pre-bug epoch
        serial -= 1
    return serial


def _col_index(cell_ref: str) -> int:
    """'A1' → 0, 'AB3' → 27 (0-based column index from a cell ref).

    Refs are uppercased first: some third-party writers emit lowercase
    refs, and 'a1' would otherwise map to column 32 and silently pad the
    row with Nones. Anything non-alphabetic before the digits is a
    malformed ref and raises rather than mis-indexing."""
    idx = 0
    for ch in cell_ref.upper():
        if ch.isdigit():
            break
        if not "A" <= ch <= "Z":
            raise ValueError(f"malformed cell ref {cell_ref!r}")
        idx = idx * 26 + (ord(ch) - 64)
    return idx - 1


_DATE_TOKEN_RE = re.compile(r"[ymdhs]", re.IGNORECASE)
_STRIP_RE = re.compile(r'\[[^\]]*\]|"[^"]*"|\\.')


def _is_date_format(fmt_code: str) -> bool:
    """Heuristic per OOXML practice: a format is a date format if it
    contains y/m/d/h/s tokens outside brackets/quotes/escapes."""
    return bool(_DATE_TOKEN_RE.search(_STRIP_RE.sub("", fmt_code)))


class _RichText:
    """Visible text of one ``<si>`` or ``<is>`` element, fed the events
    of its descendants: its first direct ``<t>``, then the first
    ``<t>`` of each rich-text run ``<r>``. Phonetic ``<rPh>`` runs
    (furigana in IME-authored files) are left out — a blanket
    collection of every ``<t>`` would corrupt such values. ``texts`` is
    the list the parser appends character data to."""

    __slots__ = ("texts", "path", "direct", "runs", "mark", "depth", "run_done")

    def __init__(self, texts: list[str]):
        self.texts = texts
        self.path: list[str] = []  # open elements below the container
        self.direct: str | None = None
        self.runs: list[str] = []
        self.mark = -1  # where in texts the <t> being read starts
        self.depth = 0  # len(path) of that <t>
        self.run_done = False

    def start(self, name: str) -> None:
        path = self.path
        path.append(name)
        depth = len(path)
        if depth == 1:
            if name is _R:
                self.run_done = False
            elif name is _T and self.direct is None and self.mark < 0:
                self.mark, self.depth = len(self.texts), 1
        elif depth == 2 and name is _T and path[0] is _R and not self.run_done:
            self.mark, self.depth = len(self.texts), 2

    def end(self) -> None:
        if self.mark >= 0 and len(self.path) == self.depth:
            text = "".join(self.texts[self.mark:])
            if self.depth == 1:
                self.direct = text
            else:
                self.runs.append(text)
                self.run_done = True
            self.mark = -1
        self.path.pop()

    def text(self) -> str:
        runs = "".join(self.runs)
        return runs if self.direct is None else self.direct + runs


def _parser(start, end=None, chars=None):
    # Names arrive interned as the constants above, so they compare by
    # identity first.
    p = pyexpat.ParserCreate(namespace_separator=" ", intern={n: n for n in _NAMES})
    p.buffer_text = True
    p.ordered_attributes = True
    p.StartElementHandler = start
    if end is not None:
        p.EndElementHandler = end
    if chars is not None:
        p.CharacterDataHandler = chars
    return p


def _attr(attrs: list[str], key: str) -> str | None:
    for i in range(0, len(attrs), 2):
        if attrs[i] == key:
            return attrs[i + 1]
    return None


def _pieces(f, skip: int = 0, length: int | None = None) -> Iterator[bytes]:
    """``length`` bytes (or the rest) of stream ``f`` after ``skip``
    bytes, in pieces of at most ``_CHUNK``; the skipped bytes are
    inflated and dropped, never held."""
    while skip > 0:
        got = f.read(min(_CHUNK, skip))
        if not got:
            return
        skip -= len(got)
    while length is None or length > 0:
        got = f.read(_CHUNK if length is None else min(_CHUNK, length))
        if not got:
            return
        if length is not None:
            length -= len(got)
        yield got


#: Integers up to this size survive a round trip through float64.
_EXACT_INT = 1 << 53
_DIGITS = "0123456789"


def _number(raw: str) -> int | float:
    """A numeric cell's ``<v>``: an int when the text is an integer
    literal, else a float. An integer too big for float64 to hold
    exactly is read through float, as Excel itself stores it."""
    try:
        v = int(raw)
    except ValueError:
        return float(raw)
    if len(raw) < 16 or -_EXACT_INT <= v <= _EXACT_INT:
        return v
    num = float(raw)
    return int(num) if num.is_integer() else num


def _row_parser(shared: list[str], date_styles: set[int], date1904: bool):
    """A pyexpat parser for worksheet XML and the list it appends each
    decoded ``<row>`` to, as (0-based row number, cell values)."""
    out: list[tuple[int, list[Any]]] = []
    texts: list[str] = []  # character data since the last row ended
    is_date: dict[str, bool] = {}  # s attribute -> date number format
    columns: dict[str, int] = {}  # column letters of a cell ref -> index
    row: list[Any] = []
    rn = -1
    # The open cell: its t and s attributes, the text of its first
    # <v> (None before one) and of its <is>.
    kind, style, raw, inline = "n", None, None, None
    mark = -1  # where in texts the cell's first <v> starts, while open
    rich: _RichText | None = None  # the <is> being read

    def start(name, attrs):  # attrs: [name, value, name, value, ...]
        nonlocal row, rn, kind, style, raw, inline, mark, rich
        if rich is not None:
            rich.start(name)
        elif name is _C:
            raw = inline = None
            if len(attrs) == 2 and attrs[0] == "r":
                ref, kind, style = attrs[1], "n", None
            else:
                ref, kind, style = _attr(attrs, "r"), _attr(attrs, "t") or "n", _attr(attrs, "s")
            if ref:
                letters = ref.rstrip(_DIGITS)
                idx = columns.get(letters)
                if idx is None:
                    idx = columns[letters] = _col_index(letters)
                if idx > len(row):
                    row.extend([None] * (idx - len(row)))
        elif name is _V:
            if raw is None:
                mark = len(texts)
        elif name is _ROW:
            r = _attr(attrs, "r")
            rn = int(r) - 1 if r is not None else rn + 1
            row = []
        elif name is _IS and inline is None:
            rich = _RichText(texts)

    def end(name):
        nonlocal raw, inline, mark, rich
        if rich is not None:
            if rich.path:
                rich.end()
            else:
                inline, rich = rich.text(), None
        elif name is _V:
            if mark >= 0:
                raw = texts[mark] if len(texts) == mark + 1 else "".join(texts[mark:])
                mark = -1
        elif name is _C:
            if kind == "inlineStr":
                v = None if inline is None else unescape_oox(inline)
            elif not raw:
                v = None
            elif kind == "n":
                if style is not None and (
                    is_date[style] if style in is_date
                    else is_date.setdefault(style, int(style) in date_styles)
                ):
                    v = excel_serial_to_datetime(float(raw), date1904)
                elif "." in raw or "e" in raw or "E" in raw:
                    v = float(raw)
                else:
                    v = _number(raw)
            elif kind == "s":
                v = shared[int(raw)]
            elif kind == "str":
                v = unescape_oox(raw)
            elif kind == "b":
                v = raw == "1"
            elif kind == "e":
                v = None
            else:
                v = _number(raw)
            row.append(v)
        elif name is _ROW:
            out.append((rn, row))
            texts.clear()

    return _parser(start, end, texts.append), out


class _Layout(NamedTuple):
    """Where a worksheet's rows sit in its XML (``_scan_sheet``)."""

    head: bytes  # up to and including the <sheetData> start tag
    cuts: list[tuple[int, int]]  # (offset, 0-based row number) of row starts
    tail: bytes  # from the </sheetData> end tag on


_SHEET_DATA = re.compile(rb"<((?:[^\s<>/:?!]+:)?)sheetData(?=[\s/>])[^>]*>")
_ROW_NUMBER = re.compile(rb"\sr\s*=\s*[\"'](\d+)")
_WINDOW = 4096  # bytes kept between pieces: a start tag split across two


def _scan_sheet(f, targets: list[int] = ()) -> _Layout | None:
    """One streaming pass over worksheet XML. ``cuts`` holds, for each
    target offset, the first ``<row>`` start tag at or after it whose
    ``r`` attribute gives its row number (a target with none before the
    end of ``<sheetData>`` gets no cut). None when the sheet has no
    ``<sheetData>`` with rows in it."""
    pieces = _pieces(f)
    data = b""
    for piece in pieces:
        data += piece
        m = _SHEET_DATA.search(data)
        if m is not None:
            break
    else:
        return None
    if m.group(0).endswith(b"/>"):
        return None
    prefix, head_end = m.group(1), m.end()
    head = data[:head_end]
    row_tag = re.compile(b"<" + re.escape(prefix) + rb"row(?=[\s/>])[^>]*>")
    end_tag = b"</" + prefix + b"sheetData"
    cuts: list[tuple[int, int]] = []
    pending = [t for t in targets if t > head_end]
    base, pos = 0, head_end  # data holds bytes [base, base + len(data))
    while True:
        stop = data.find(end_tag)
        while pending:
            tag = row_tag.search(data, max(pending[0], pos, base) - base)
            if tag is None or (stop >= 0 and tag.start() > stop):
                break
            pending.pop(0)
            number = _ROW_NUMBER.search(tag.group(0))
            if number is not None:
                cuts.append((base + tag.start(), int(number.group(1)) - 1))
                pos = base + tag.end()
        if stop >= 0:
            return _Layout(head, cuts, data[stop:] + b"".join(pieces))
        piece = next(pieces, None)
        if piece is None:
            return _Layout(head, cuts, b"")
        keep = min(len(data), _WINDOW)
        base += len(data) - keep
        data = data[len(data) - keep:] + piece


class SheetSlice(NamedTuple):
    """A run of rows of one worksheet (``Workbook.sheet_slices``)."""

    span: tuple[int, int, int | None]  # head end, first byte, end byte
    merges: list[tuple[int, int, int, int]]  # the sheet's merged ranges
    fills: dict[int, Any]  # merged range -> top-left value carried in


def _fill_merged_row(ranges, fills: dict[int, Any], rn: int, row: list[Any]) -> None:
    """Propagate each merged range's top-left value across its cells in
    row ``rn``; ``fills`` holds the top-left values seen so far."""
    for k, (r1, c1, r2, c2) in enumerate(ranges):
        if rn == r1 and len(row) > c1 and row[c1] is not None:
            fills[k] = row[c1]
        if r1 <= rn <= r2 and k in fills:
            while len(row) <= c2:
                row.append(None)
            for cc in range(c1, c2 + 1):
                if row[cc] is None:
                    row[cc] = fills[k]


class Workbook:
    """Lazily-parsed xlsx workbook."""

    def __init__(self, path: str):
        self.path = path
        self._zf = zipfile.ZipFile(path)
        self._shared: list[str] | None = None
        self._date_styles: set[int] | None = None
        self.sheets = self._sheet_map()

    def _sheet_map(self) -> dict[str, str]:
        """sheet name → zip member path, in workbook order."""
        rels = {}
        rel_path = "xl/_rels/workbook.xml.rels"
        if rel_path in self._zf.namelist():
            root = ET.fromstring(self._zf.read(rel_path))
            for rel in root:
                target = rel.get("Target").lstrip("/")
                if not target.startswith("xl/"):
                    target = "xl/" + target
                rels[rel.get("Id")] = target
        out: dict[str, str] = {}
        wb = ET.fromstring(self._zf.read("xl/workbook.xml"))
        pr = wb.find(f"{NS}workbookPr")
        self.date1904 = pr is not None and pr.get("date1904") in (
            "1", "true",
        )
        self.hidden_sheets: set[str] = set()
        for sheet in wb.find(f"{NS}sheets"):
            rid = sheet.get(f"{REL_NS}id")
            out[sheet.get("name")] = rels.get(rid, f"xl/worksheets/sheet{sheet.get('sheetId')}.xml")
            # state="hidden"/"veryHidden": authors park scratch sheets
            # there; they stay readable by name but are excluded from
            # wildcard selection under visibleOnly (xlsx data source).
            if sheet.get("state") in ("hidden", "veryHidden"):
                self.hidden_sheets.add(sheet.get("name"))
        return out

    @property
    def shared_strings(self) -> list[str]:
        if self._shared is None:
            out: list[str] = []
            texts: list[str] = []
            rich: _RichText | None = None

            def start(name, attrs):
                nonlocal rich
                if rich is not None:
                    rich.start(name)
                elif name is _SI:
                    rich = _RichText(texts)

            def end(name):
                nonlocal rich
                if rich is None:
                    return
                if rich.path:
                    rich.end()
                else:
                    out.append(unescape_oox(rich.text()))
                    rich = None
                    texts.clear()

            name = "xl/sharedStrings.xml"
            if name in self._zf.namelist():
                p = _parser(start, end, texts.append)
                with self._zf.open(name) as f:
                    for piece in _pieces(f):
                        p.Parse(piece, False)
                p.Parse(b"", True)
            self._shared = out
        return self._shared

    @property
    def date_styles(self) -> set[int]:
        """Indices into cellXfs whose number format is a date format."""
        if self._date_styles is None:
            self._date_styles = set()
            name = "xl/styles.xml"
            if name in self._zf.namelist():
                root = ET.fromstring(self._zf.read(name))
                custom = {}
                num_fmts = root.find(f"{NS}numFmts")
                if num_fmts is not None:
                    for nf in num_fmts:
                        custom[int(nf.get("numFmtId"))] = nf.get("formatCode", "")
                cell_xfs = root.find(f"{NS}cellXfs")
                if cell_xfs is not None:
                    for i, xf in enumerate(cell_xfs):
                        fid = int(xf.get("numFmtId", "0"))
                        if fid in _DATE_BUILTIN_FMTS or (
                            fid in custom and _is_date_format(custom[fid])
                        ):
                            self._date_styles.add(i)
        return self._date_styles

    @property
    def defined_names(self) -> dict[str, tuple[str, int, int, int, int]]:
        """Workbook-level defined names (named ranges): name →
        (sheet, row1, col1, row2, col2), 0-based inclusive. Parses
        ``<definedNames><definedName name="X">Sheet1!$A$2:$C$10``
        (quoted sheet names and single-cell refs included); names whose
        refersTo is not a simple rectangular ref (formulas, unions,
        #REF! errors) are skipped — scan semantics only exist for
        rectangles."""
        out: dict[str, tuple[str, int, int, int, int]] = {}
        wb = ET.fromstring(self._zf.read("xl/workbook.xml"))
        dns = wb.find(f"{NS}definedNames")
        if dns is None:
            return out
        for dn in dns:
            name, ref = dn.get("name"), (dn.text or "").strip()
            if not name or "!" not in ref:
                continue
            sheet, _, cells = ref.rpartition("!")
            if sheet.startswith("'") and sheet.endswith("'"):
                sheet = sheet[1:-1].replace("''", "'")
            cells = cells.replace("$", "")
            a, _, b = cells.partition(":")
            b = b or a
            try:
                r1 = int("".join(ch for ch in a if ch.isdigit())) - 1
                r2 = int("".join(ch for ch in b if ch.isdigit())) - 1
                c1, c2 = _col_index(a), _col_index(b)
            except ValueError:
                continue
            if sheet in self.sheets and 0 <= r1 <= r2 and 0 <= c1 <= c2:
                out[name] = (sheet, r1, c1, r2, c2)
        return out

    def iter_range(self, name: str) -> Iterator[list[Any]]:
        """Yield the rows of defined name ``name``, column-sliced to the
        range's rectangle and padded to its full width — the
        read-a-named-table surface (ranges are how spreadsheet authors
        mark the DATA region of a sheet full of titles and notes)."""
        try:
            sheet, r1, c1, r2, c2 = self.defined_names[name]
        except KeyError:
            raise KeyError(
                f"defined name {name!r} not in workbook {self.path} "
                f"(has {sorted(self.defined_names)})"
            ) from None
        width = c2 - c1 + 1
        for rn, row in self.iter_rows(sheet, numbered=True):
            if rn < r1:
                continue
            if rn > r2:
                break
            sliced = row[c1: c2 + 1]
            while len(sliced) < width:
                sliced.append(None)
            yield sliced

    def merged_ranges(self, sheet_name: str) -> list[tuple[int, int, int, int]]:
        """(row1, col1, row2, col2) 0-based inclusive bounds of each
        ``<mergeCell ref="A2:B4"/>`` on the sheet. ``<mergeCells>``
        follows ``<sheetData>``, so only the document around the rows is
        parsed; the rows are inflated and skipped. Sheets without
        merges return []."""
        out: list[tuple[int, int, int, int]] = []

        def start(name, attrs):
            if name is _MERGE:
                ref = _attr(attrs, "ref") or ""
                if ":" in ref:
                    a, b = ref.split(":", 1)
                    r1 = int("".join(ch for ch in a if ch.isdigit())) - 1
                    r2 = int("".join(ch for ch in b if ch.isdigit())) - 1
                    out.append((r1, _col_index(a), r2, _col_index(b)))

        member = self.sheets[sheet_name]
        with self._zf.open(member) as f:
            layout = _scan_sheet(f)
        doc = self._zf.read(member) if layout is None else layout.head + layout.tail
        _parser(start).Parse(doc, True)
        return out

    def row_batches(
        self, sheet_name: str, fill_merged: bool = False,
        piece: SheetSlice | None = None,
    ) -> Iterator[list[tuple[int, list[Any]]]]:
        """The sheet's rows as lists of (0-based row number, values),
        one list per inflated piece of XML. ``piece`` (one of
        ``sheet_slices``) limits the rows to that slice: the parser is
        fed the document head and then the slice's bytes, and merged
        ranges fill from the top-left values the slice carries in."""
        if piece is not None:
            return self._rows(sheet_name, piece.merges, dict(piece.fills), piece.span)
        ranges = self.merged_ranges(sheet_name) if fill_merged else []
        return self._rows(sheet_name, ranges, {}, None)

    def _rows(self, sheet_name, ranges, fills, span):
        p, out = _row_parser(self.shared_strings, self.date_styles, self.date1904)
        with self._zf.open(self.sheets[sheet_name]) as f:
            if span is None:
                pieces, last = _pieces(f), True
            else:
                head_end, begin, end = span
                last = end is None
                if begin == head_end:
                    pieces = _pieces(f, 0, end)
                else:
                    p.Parse(f.read(head_end), False)
                    pieces = _pieces(f, begin - head_end, None if last else end - begin)
            for data in pieces:
                p.Parse(data, False)
                if out:
                    batch = out.copy()
                    out.clear()
                    if ranges:
                        for rn, row in batch:
                            _fill_merged_row(ranges, fills, rn, row)
                    yield batch
            if last:
                p.Parse(b"", True)

    def iter_rows(
        self, sheet_name: str, fill_merged: bool = False,
        numbered: bool = False,
    ) -> Iterator[Any]:
        """Yield rows as lists of decoded python values (None for empty
        cells; ragged rows padded on read by the caller).
        ``numbered=True`` yields ``(row_number, row)`` with the sheet's
        TRUE 0-based row number (sparse sheets omit blank ``<row>``
        elements, so positional counting would drift) — the contract
        ``iter_range`` slices against.

        ``fill_merged=True`` propagates each merged range's top-left
        value to every cell of the range — the report-layout unpivot
        every spreadsheet ETL needs (a region label merged down its
        group's rows becomes a proper column). ``<mergeCells>`` live
        AFTER sheetData, so they are collected first (``merged_ranges``);
        row-major order guarantees the top-left value is seen before any
        cell it must fill, so the fill is one dict of active ranges."""
        for batch in self.row_batches(sheet_name, fill_merged):
            if numbered:
                yield from batch
            else:
                for _, row in batch:
                    yield row

    def sheet_slices(self, sheet_name: str, fill_merged: bool = False) -> list[SheetSlice]:
        """Split a sheet whose XML exceeds ``SLICE_BYTES`` into
        ceil(size / SLICE_BYTES) slices that start at ``<row>`` start
        tags; [] when the sheet stays whole. Under ``fill_merged`` a
        merged range that crosses into a slice carries its top-left
        value in: the slices holding such values are decoded here."""
        member = self.sheets[sheet_name]
        size = self._zf.getinfo(member).file_size
        n = math.ceil(size / SLICE_BYTES)
        if n < 2:
            return []
        with self._zf.open(member) as f:
            layout = _scan_sheet(f, [size * k // n for k in range(1, n)])
        if layout is None or not layout.cuts:
            return []
        head_end = len(layout.head)
        starts = [head_end] + [at for at, _ in layout.cuts]
        spans = list(zip([head_end] * len(starts), starts, starts[1:] + [None]))
        if not fill_merged:
            return [SheetSlice(s, [], {}) for s in spans]
        ranges = self.merged_ranges(sheet_name)
        firsts = [-1] + [rn for _, rn in layout.cuts]
        out, carried = [], {}
        for j, span in enumerate(spans):
            lo = firsts[j]
            hi = firsts[j + 1] if j + 1 < len(firsts) else math.inf
            fills = {k: v for k, v in carried.items() if ranges[k][2] >= lo}
            out.append(SheetSlice(span, ranges, fills))
            if any(lo <= r1 < hi <= r2 for r1, _, r2, _ in ranges):
                fills = dict(fills)  # decoding the slice adds its top-left values
                for _ in self._rows(sheet_name, ranges, fills, span):
                    pass
            carried = fills
        return out

    def close(self) -> None:
        self._zf.close()


def read_workbook(path: str) -> Workbook:
    return Workbook(path)


# ---------------------------------------------------------------------------
# Writer
# ---------------------------------------------------------------------------

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
{sheet_overrides}
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

#: style index 1 = datetime format (builtin 22: m/d/yy h:mm)
_STYLES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<fonts count="1"><font/></fonts><fills count="1"><fill/></fills>
<borders count="1"><border/></borders>
<cellStyleXfs count="1"><xf/></cellStyleXfs>
<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="22" applyNumberFormat="1"/></cellXfs>
</styleSheet>"""


def _col_letter(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def write_workbook(
    path: str,
    sheets: dict[str, tuple[list[str], list[tuple]]],
    defined_names: dict[str, str] | None = None,
) -> None:
    """Write a multi-sheet xlsx: {sheet_name: (header, rows)}.

    Strings go through the shared-string table (exercising the reader's
    main path); bool/int/float are native cells; datetimes become date
    serials with a date style. xlsx is a small-data format — callers
    stage dimensions/samples, never fact tables.

    ``defined_names``: name → A1-style ref (``"Sheet1!$A$2:$C$10"``),
    emitted as workbook-level ``<definedNames>`` — the named-range
    surface ``Workbook.iter_range`` reads back.
    """
    shared: dict[str, int] = {}

    def sref(s: str) -> int:
        return shared.setdefault(s, len(shared))

    sheet_xmls: list[str] = []
    for _, (header, rows) in sheets.items():
        lines = ["<sheetData>"]
        for r, row in enumerate([tuple(header)] + list(rows), start=1):
            cells = []
            for ci, val in enumerate(row):
                ref = f"{_col_letter(ci)}{r}"
                if val is None:
                    continue
                if r == 1 or isinstance(val, str):
                    cells.append(f'<c r="{ref}" t="s"><v>{sref(str(val))}</v></c>')
                elif isinstance(val, bool):
                    cells.append(f'<c r="{ref}" t="b"><v>{int(val)}</v></c>')
                elif isinstance(val, datetime):
                    cells.append(
                        f'<c r="{ref}" s="1"><v>{datetime_to_excel_serial(val)!r}</v></c>'
                    )
                elif isinstance(val, (int, float)):
                    cells.append(f'<c r="{ref}"><v>{val!r}</v></c>')
                else:
                    cells.append(f'<c r="{ref}" t="s"><v>{sref(str(val))}</v></c>')
            lines.append(f'<row r="{r}">' + "".join(cells) + "</row>")
        lines.append("</sheetData>")
        sheet_xmls.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            + "".join(lines)
            + "</worksheet>"
        )

    sheet_entries = "".join(
        # quoteattr, not escape: attribute context must escape quotes too.
        f'<sheet name={quoteattr(name)} sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, name in enumerate(sheets)
    )
    dn_xml = ""
    if defined_names:
        dn_xml = "<definedNames>" + "".join(
            f"<definedName name={quoteattr(n)}>{escape(ref)}</definedName>"
            for n, ref in defined_names.items()
        ) + "</definedNames>"
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{sheet_entries}</sheets>{dn_xml}</workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets))
        )
        + f'<Relationship Id="rId{len(sheets) + 1}" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" '
        'Target="sharedStrings.xml"/>'
        + f'<Relationship Id="rId{len(sheets) + 2}" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" '
        'Target="styles.xml"/>'
        "</Relationships>"
    )
    ordered = sorted(shared, key=shared.get)
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="{len(ordered)}" uniqueCount="{len(ordered)}">'
        + "".join(f'<si><t xml:space="preserve">{escape(escape_oox(s))}</t></si>' for s in ordered)
        + "</sst>"
    )
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(len(sheets))
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES.format(sheet_overrides=overrides))
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/styles.xml", _STYLES)
        zf.writestr("xl/sharedStrings.xml", sst)
        for i, xml in enumerate(sheet_xmls):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", xml)
