"""Minimal pure-stdlib xlsx reader (zipfile + re, xml.etree as reference).

The reference's entire input format is xlsx parsed by openpyxl
(etl/app.py:103, etl/requirements.txt:3), but openpyxl is not available
in every deployment. An .xlsx file is a zip of XML parts with a stable
published structure (ECMA-376 / ISO 29500 SpreadsheetML), so the subset
the ingest path needs — shared strings, inline strings, numbers,
booleans, date serials (kept as raw floats; serial->timestamp conversion
is the engine's C18 operator) — parses with nothing beyond the standard
library. This is a clean-room reader of the public file format, not a
port of any library.

A worksheet is read by one compiled-regex scan of its <sheetData>
(_scan_grid) when it is in the canonical forms Excel and common writers
emit; any other document goes to the ElementTree walk (_tree_grid),
which stays the reference the scan is tested against. parse_xlsx_bytes
on a 2,000-row ventes sheet takes ~17-21 ms with the scan against
~80-90 ms with the walk (4-core x86 box); ElementTree's fromstring
alone costs ~25-45 ms.

Deliberately NOT supported (out of scope for data ingest): formulas
(cached values are read), styles/number formats (serials stay numeric —
exactly what the reference's pipeline expects, see q_excel_serial_date),
merged cells, multiple sheets beyond selection by index.
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree

import pandas as pd

_CELL_REF = re.compile(r"([A-Z]+)(\d+)$")


def _local(tag: str) -> str:
    """Strip the XML namespace: '{uri}row' -> 'row'."""
    return tag.rsplit("}", 1)[-1]


def _col_index(ref: str) -> int:
    """'A1' -> 0, 'B3' -> 1, 'AA7' -> 26 (base-26 letters prefix)."""
    m = _CELL_REF.match(ref)
    if not m:
        raise ValueError(f"unparseable cell reference {ref!r}")
    idx = 0
    for ch in m.group(1):
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _text_of(elem: ElementTree.Element) -> str:
    """Concatenate all <t> descendant text (plain and rich-text runs),
    honoring xml:space='preserve' (ElementTree keeps the raw text; Excel
    uses the attribute to mark leading/trailing spaces as significant)."""
    parts = []
    for node in elem.iter():
        if _local(node.tag) == "t":
            parts.append(node.text or "")
    return "".join(parts)


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        raw = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ElementTree.fromstring(raw)
    return [_text_of(si) for si in root if _local(si.tag) == "si"]


def _sheet_paths(zf: zipfile.ZipFile) -> list[str]:
    """Worksheet part paths in workbook sheet order (workbook.xml sheet
    r:id -> workbook.xml.rels target)."""
    wb = ElementTree.fromstring(zf.read("xl/workbook.xml"))
    rels = ElementTree.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    target_by_id = {}
    for rel in rels:
        target = rel.get("Target", "")
        if "worksheet" in rel.get("Type", ""):
            # targets may be workbook-relative ('worksheets/sheet1.xml'),
            # package-absolute ('/xl/worksheets/sheet1.xml'), or already
            # prefixed — normalize all three to zip-entry paths
            if target.startswith("/"):
                target = target.lstrip("/")
            if not target.startswith("xl/"):
                target = f"xl/{target}"
            target_by_id[rel.get("Id")] = target
    paths = []
    for node in wb.iter():
        if _local(node.tag) == "sheet":
            rid = next(
                (v for k, v in node.attrib.items() if _local(k) == "id"), None
            )
            if rid in target_by_id:
                paths.append(target_by_id[rid])
    return paths


def _typed_value(ctype: str, v_text: str, shared: list[str]):
    """The value of a cell's <v> text under its `t` type."""
    if ctype == "s":
        return shared[int(v_text)]
    if ctype == "str":  # formula cached string
        return v_text
    if ctype == "b":
        return bool(int(v_text))
    if ctype in ("n", ""):  # numeric (incl. date serials — kept raw)
        if "." not in v_text:  # int() rejects every text holding a '.'
            try:
                return int(v_text)
            except ValueError:
                pass
        return float(v_text)
    return v_text  # unknown type: surface the raw text


def _cell_value(cell: ElementTree.Element, shared: list[str]):
    ctype = cell.get("t", "n")
    v_text = None
    for child in cell:
        name = _local(child.tag)
        if name == "v":
            v_text = child.text or ""
        elif name == "is":  # inline string
            return _text_of(child)
    if v_text is None:
        return None
    return _typed_value(ctype, v_text, shared)


def _tree_grid(xml: bytes, shared: list[str]) -> tuple[dict, int]:
    """The reference reader of one worksheet: an ElementTree walk over
    every `row` element. Returns ({row index: {column index: value}},
    column count)."""
    root = ElementTree.fromstring(xml)
    grid: dict[int, dict[int, object]] = {}
    n_cols = 0
    for node in root.iter():
        if _local(node.tag) != "row":
            continue
        r = int(node.get("r", len(grid) + 1)) - 1
        row_cells = grid.setdefault(r, {})
        for cell in node:
            if _local(cell.tag) != "c":
                continue
            ref = cell.get("r")
            c = _col_index(ref) if ref else len(row_cells)
            val = _cell_value(cell, shared)
            if val is not None:
                row_cells[c] = val
                n_cols = max(n_cols, c + 1)
    return grid, n_cols


# One token inside <sheetData>: a cell, a row start, a row end, or (the
# last group) any other character, which makes the scan decline. A cell
# is <c r="A1"> with optional s= and t= in Excel's attribute order, an
# optional <f> formula, then a <v> value, an <is> inline string (one
# plain <t>, or rich-text runs for _rich_text to read), or nothing.
# The quantifiers are possessive: a token either matches at once or the
# scan declines, so nothing is gained by backtracking.
_TOKEN = re.compile(
    r'<c r="([A-Z]{1,3})\d++"(?: s="\d++")?+(?: t="(\w++)")?+'
    r'(?:/>|>(?:<f(?: [^>/]*+)?+(?:/>|>[^<]*+</f>))?+'
    r'(?:(<v>[^<]*+)</v>|(<is>)(?:<t(?: xml:space="preserve")?+>([^<]*+)</t>|(.*?))</is>)?+</c>)'
    r'|<row r="(\d++)"[^>/]*+(/?)>|(</row>)|(\S)',
    re.S,
)
_ROW_TAG = re.compile(r"<(?:[\w.-]+:)?row[\s/>]")
_XML_ENCODING = re.compile(rb"""<\?xml[^>]*encoding=["']([^"']+)""")
_SHEET_DATA = "<sheetData>"


def _rich_text(body: str) -> str | None:
    """The text of an <is> element whose body is `body`, read as
    _text_of reads it, or None when `body` is not well-formed XML on its
    own (nesting errors, namespace prefixes)."""
    try:
        return _text_of(ElementTree.fromstring(f"<is>{body}</is>"))
    except ElementTree.ParseError:
        return None


def _scan_grid(xml: bytes, shared: list[str]) -> tuple[dict, int] | None:
    """One compiled-regex pass over a worksheet's <sheetData>, giving
    exactly what _tree_grid gives, or None when the document is not in
    the forms the scan models: then the caller runs _tree_grid, which
    also raises ParseError on every document that is not well-formed.

    The scan accepts a document only when every character of
    <sheetData> other than whitespace between elements belongs to a
    matched token. In well-formed XML every '<' opens markup, so no
    `<c`, `<row` or any other element can be skipped. The rest of the
    document, with <sheetData> emptied, goes through ElementTree
    (small: column widths, margins and the like), and so does the body
    of each rich-text inline string; either failing declines. What the
    scan cannot read the way an XML parser does declines the whole
    document too: a declared encoding other than UTF-8, entity or
    character references (`&`), CDATA, comments and DOCTYPEs (`<!`),
    carriage returns (a parser normalises them), namespace prefixes,
    cells or rows without `r`, rows outside <sheetData>, other
    attribute orders or child elements, and nesting errors."""
    decl = _XML_ENCODING.match(xml)
    if decl and decl.group(1).lower() not in (b"utf-8", b"utf8"):
        return None
    try:
        text = xml.decode("utf-8")
    except UnicodeDecodeError:
        return None
    start = text.find(_SHEET_DATA)
    end = text.rfind("</sheetData>")
    if (
        start < 0
        or end < start
        or "&" in text
        or "<!" in text
        or "\r" in text
        or _ROW_TAG.search(text, 0, start)
        or _ROW_TAG.search(text, end)
    ):
        return None
    try:
        ElementTree.fromstring(f"{text[:start]}<sheetData/>{text[end + len('</sheetData>'):]}")
    except ElementTree.ParseError:
        return None
    grid: dict[int, dict[int, object]] = {}
    col_of: dict[str, int] = {}
    n_cols = 0
    cells = None  # the open row's cells
    for col, ctype, v, inline, text_t, rich, row_r, row_empty, row_end, _ in _TOKEN.findall(
        text, start + len(_SHEET_DATA), end
    ):
        if col:
            if cells is None:
                return None
            if inline:
                if rich:
                    val = _rich_text(rich)
                    if val is None:
                        return None
                else:
                    val = text_t
            elif v:
                val = _typed_value(ctype or "n", v[3:], shared)
            else:
                continue
            c = col_of.get(col)
            if c is None:
                c = col_of[col] = _col_index(col + "1")
            cells[c] = val
            if c >= n_cols:
                n_cols = c + 1
        elif row_r:
            if cells is not None:
                return None
            cells = grid.setdefault(int(row_r) - 1, {})
            if row_empty:
                cells = None
        elif row_end and cells is not None:
            cells = None
        else:
            return None
    if cells is not None:
        return None
    return grid, n_cols


def _frame(grid: dict, n_cols: int, header: bool) -> pd.DataFrame:
    if not grid:
        return pd.DataFrame()
    n_rows = max(grid) + 1
    cols, empty = range(n_cols), {}
    rows = [list(map(grid.get(r, empty).get, cols)) for r in range(n_rows)]

    if header:
        head, body = rows[0], rows[1:]
        cols = [
            str(h) if h is not None else f"Unnamed: {i}"
            for i, h in enumerate(head)
        ]
        return pd.DataFrame(body, columns=cols)
    return pd.DataFrame(rows)


def parse_xlsx_bytes(
    data: bytes, sheet: int = 0, header: bool = True
) -> pd.DataFrame:
    """Parse xlsx bytes into a pandas DataFrame (first row as header when
    `header`, pandas-style 'Unnamed: N' for blank header cells — the
    produits.xlsx 7th-column quirk, SURVEY.md §5.2). The worksheet is
    read by the one-pass scan (_scan_grid), or by the ElementTree walk
    (_tree_grid) when the scan declines it; both give the same frame."""
    zf = zipfile.ZipFile(io.BytesIO(data))
    shared = _shared_strings(zf)
    paths = _sheet_paths(zf)
    if not paths:
        raise ValueError("no worksheets found in workbook")
    if not 0 <= sheet < len(paths):
        raise ValueError(
            f"sheet index {sheet} out of range: workbook has {len(paths)} sheet(s)"
        )
    xml = zf.read(paths[sheet])
    grid, n_cols = _scan_grid(xml, shared) or _tree_grid(xml, shared)
    return _frame(grid, n_cols, header)
