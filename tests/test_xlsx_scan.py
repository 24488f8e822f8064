"""The one-pass worksheet scan (sources/xlsx_mini.py::_scan_grid) against
the ElementTree reference walk, and the column-wise coercions of
sources/excel.py::_coerce_to_fields against their element-wise forms.

Every fixture names the path it must take: "scan" fixtures must be
accepted by the scan, "etree" fixtures declined by it and read by the
walk. Either way parse_xlsx_bytes must give exactly the frame the walk
alone gives: the same columns, dtypes, and value types and reprs cell
by cell.
"""

from __future__ import annotations

import datetime
import decimal
import io
import zipfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import (
    DecimalType,
    IntegerType,
    StringType,
    StructField,
    TimestampType,
)

from datawarehouse1_spark.sources import xlsx_mini
from datawarehouse1_spark.sources.excel import _coerce_to_fields
from datawarehouse1_spark.sources.xlsx_mini import parse_xlsx_bytes

NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
PKG = "http://schemas.openxmlformats.org/package/2006/relationships"


def _sheet(rows: str, decl: str = '<?xml version="1.0" encoding="UTF-8"?>') -> str:
    return f'{decl}<worksheet xmlns="{NS}"><sheetData>{rows}</sheetData></worksheet>'


def _book(*sheets: str | bytes, shared: list[str] | None = None) -> bytes:
    """A workbook of the given worksheet XML parts; `shared` holds the raw
    <si> bodies of xl/sharedStrings.xml."""
    listed = "".join(
        f'<sheet name="S{i}" sheetId="{i + 1}" r:id="rId{i + 1}"/>' for i in range(len(sheets))
    )
    rels = "".join(
        f'<Relationship Id="rId{i + 1}" Type="{REL}/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(len(sheets))
    )
    parts: dict[str, str | bytes] = {
        "xl/workbook.xml": f'<workbook xmlns="{NS}" xmlns:r="{REL}"><sheets>{listed}</sheets></workbook>',
        "xl/_rels/workbook.xml.rels": f'<Relationships xmlns="{PKG}">{rels}</Relationships>',
    }
    for i, xml in enumerate(sheets):
        parts[f"xl/worksheets/sheet{i + 1}.xml"] = xml
    if shared is not None:
        sis = "".join(f"<si>{si}</si>" for si in shared)
        parts["xl/sharedStrings.xml"] = f'<sst xmlns="{NS}">{sis}</sst>'
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, body in parts.items():
            zf.writestr(name, body)
    return buf.getvalue()


def _inline(ref: str, text: str) -> str:
    return f'<c r="{ref}" t="inlineStr"><is><t>{text}</t></is></c>'


HEAD = f'<row r="1">{_inline("A1", "k")}{_inline("B1", "v")}</row>'

# name -> (workbook bytes, parse kwargs, the path that must read it)
FIXTURES = {
    "shared_strings": (
        _book(
            _sheet(
                '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
                '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>7</v></c></row>'
            ),
            shared=["<t>k</t>", "<r><t>ri</t></r><r><rPr><b/></rPr><t>ch</t></r>", "<t>x</t>"],
        ),
        {}, "scan",
    ),
    "inline_strings": (
        _book(_sheet(HEAD + f'<row r="2">{_inline("A2", "a")}{_inline("B2", "")}</row>')),
        {}, "scan",
    ),
    "rich_text_runs": (
        _book(_sheet(
            HEAD + '<row r="2"><c r="A2" t="inlineStr"><is><r><t>ab</t></r>'
            '<r><rPr><b/><color rgb="FFFF0000"/><sz val="11"/></rPr>'
            '<t xml:space="preserve"> cd </t></r><rPh sb="0" eb="1"><t>ph</t></rPh>'
            '</is></c></row>'
        )),
        {}, "scan",
    ),
    "rich_text_empty_t": (
        _book(_sheet(
            HEAD + '<row r="2"><c r="A2" t="inlineStr"><is><r><t/></r><r><t>z</t></r></is></c></row>'
        )),
        {}, "scan",
    ),
    "amp_entity": (
        _book(_sheet(HEAD + f'<row r="2">{_inline("A2", "R&amp;D")}</row>')),
        {}, "etree",
    ),
    "char_reference": (
        _book(_sheet(HEAD + f'<row r="2">{_inline("A2", "&#65;&#x42;")}</row>')),
        {}, "etree",
    ),
    "cdata": (
        _book(_sheet(HEAD + f'<row r="2">{_inline("A2", "<![CDATA[a<b]]>")}</row>')),
        {}, "etree",
    ),
    "comment": (
        _book(_sheet(HEAD + "<!-- note -->" + f'<row r="2">{_inline("A2", "a")}</row>')),
        {}, "etree",
    ),
    "space_preserve": (
        _book(_sheet(
            HEAD + '<row r="2"><c r="A2" t="inlineStr"><is><t xml:space="preserve">  pad </t></is></c>'
            '<c r="B2" t="inlineStr"><is><t>\n</t></is></c></row>'
        )),
        {}, "scan",
    ),
    "booleans": (
        _book(_sheet(
            HEAD + '<row r="2"><c r="A2" t="b"><v>1</v></c><c r="B2" t="b"><v>0</v></c></row>'
        )),
        {}, "scan",
    ),
    "formula_cached_strings": (
        _book(_sheet(
            HEAD + '<row r="2"><c r="A2" t="str"><f>CONCAT(B2,"x")</f><v>7x</v></c>'
            '<c r="B2"><f t="shared" ref="B2:B3" si="0">C2*2</f><v>7</v></c></row>'
            '<row r="3"><c r="A3" t="str"><f t="shared" si="1"/><v>ok</v></c>'
            '<c r="B3"><f t="shared" si="0"/><v>8.5</v></c></row>'
        )),
        {}, "scan",
    ),
    "style_attributes": (
        _book(_sheet(
            '<row r="1" spans="1:2" ht="15" customHeight="1">'
            '<c r="A1" s="3" t="inlineStr"><is><t>k</t></is></c><c r="B1" s="2" t="inlineStr"><is><t>v</t></is></c></row>'
            '<row r="2" spans="1:2"><c r="A2" s="1"><v>45658.5</v></c><c r="B2" s="12" t="s"><v>0</v></c></row>'
        ), shared=["<t>s0</t>"]),
        {}, "scan",
    ),
    "attribute_order_t_before_s": (
        _book(_sheet(HEAD + '<row r="2"><c r="A2" t="b" s="1"><v>1</v></c></row>')),
        {}, "etree",
    ),
    "sparse_cells_and_rows": (
        _book(_sheet(
            f'<row r="1">{_inline("A1", "a")}{_inline("D1", "d")}</row>'
            '<row r="4"><c r="B4"><v>2</v></c><c r="F4"><v>-3</v></c></row>'
            '<row r="6"/>'
        )),
        {}, "scan",
    ),
    "duplicate_row_numbers": (
        _book(_sheet(
            HEAD + '<row r="2"><c r="A2"><v>1</v></c></row><row r="2"><c r="B2"><v>2</v></c>'
            '<c r="A2"><v>3</v></c></row>'
        )),
        {}, "scan",
    ),
    "cell_ref_row_differs_from_row": (
        _book(_sheet(HEAD + '<row r="2"><c r="A9"><v>1</v></c></row>')),
        {}, "scan",
    ),
    "cells_without_r": (
        _book(_sheet(HEAD + '<row r="2"><c><v>1</v></c><c><v>2</v></c></row>')),
        {}, "etree",
    ),
    "rows_without_r": (
        _book(_sheet(HEAD + '<row><c r="A2"><v>1</v></c></row>')),
        {}, "etree",
    ),
    "self_closing_cells": (
        _book(_sheet(
            HEAD + '<row r="2"><c r="A2" s="4"/><c r="B2"><v>5</v></c><c r="C2" s="1"/></row>'
            '<row r="3"><c r="A3"></c><c r="B3"><v>6</v></c></row>'
        )),
        {}, "scan",
    ),
    "numbers": (
        _book(_sheet(
            HEAD + '<row r="2"><c r="A2"><v>1.5E-3</v></c><c r="B2"><v>-42</v></c></row>'
            '<row r="3"><c r="A3"><v>123456789012345678901234567890</v></c>'
            '<c r="B3" t="n"><v>1e300</v></c></row>'
            '<row r="4"><c r="A4" t="e"><v>#DIV/0!</v></c><c r="B4"><v>7</v></c></row>'
        )),
        {}, "scan",
    ),
    "namespace_prefixed_sheet": (
        _book(
            f'<x:worksheet xmlns:x="{NS}"><x:sheetData>'
            '<x:row r="1"><x:c r="A1" t="inlineStr"><x:is><x:t>k</x:t></x:is></x:c></x:row>'
            '<x:row r="2"><x:c r="A2"><x:v>3</x:v></x:c></x:row>'
            "</x:sheetData></x:worksheet>"
        ),
        {}, "etree",
    ),
    "prefixed_cell_in_plain_sheet": (
        _book(_sheet(
            HEAD + f'<row r="2" xmlns:x="{NS}"><x:c r="A2"><x:v>3</x:v></x:c></row>'
        )),
        {}, "etree",
    ),
    "crlf_text": (
        _book(_sheet(HEAD + f'<row r="2">{_inline("A2", "a" + chr(13) + chr(10) + "b")}</row>')),
        {}, "etree",
    ),
    "pretty_printed": (
        _book(_sheet(
            "\n  " + HEAD.replace("<c ", "\n    <c ") + '\n  <row r="2">\n    <c r="A2"><v>1</v></c>\n  </row>\n'
        )),
        {}, "scan",
    ),
    "pretty_printed_cell_children": (
        _book(_sheet(HEAD + '<row r="2"><c r="A2">\n  <v>1</v>\n</c></row>')),
        {}, "etree",
    ),
    "latin1_declared": (
        _book(
            _sheet(
                HEAD + f'<row r="2">{_inline("A2", "café")}</row>',
                decl='<?xml version="1.0" encoding="ISO-8859-1"?>',
            ).encode("latin-1")
        ),
        {}, "etree",
    ),
    "empty_sheet_data": (
        _book(f'<worksheet xmlns="{NS}"><sheetData/></worksheet>'),
        {}, "etree",
    ),
    "blank_header_cell": (
        _book(_sheet(
            f'<row r="1">{_inline("A1", "a")}{_inline("C1", "c")}</row>'
            '<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c><c r="C2"><v>3</v></c></row>'
        )),
        {}, "scan",
    ),
    "mixed_column": (
        _book(_sheet(
            HEAD + f'<row r="2">{_inline("A2", "x")}<c r="B2"><v>1</v></c></row>'
            '<row r="3"><c r="A3"><v>2</v></c><c r="B3" t="b"><v>1</v></c></row>'
        )),
        {}, "scan",
    ),
    "second_sheet_without_header": (
        _book(
            _sheet(HEAD),
            _sheet('<row r="1"><c r="A1"><v>9</v></c>' + _inline("B1", "n") + "</row>"
                   '<row r="2"><c r="B2"><v>10</v></c></row>'),
        ),
        {"sheet": 1, "header": False}, "scan",
    ),
}


def _ventes_kinds(xlsx_bytes) -> dict:
    """The three kinds of file perfbench's ingest workload drops, built
    with the test workbook writer (the same cell forms)."""
    header = ["vente_id", "client_id", "produit_id", "quantite", "prix_total", "date_vente"]
    rows = [
        [f"V-{i:05d}", f"CLI{i % 7:05d}", f"PRD{i % 5:04d}", i % 19 + 1, 10.25 * i + 0.01, 45658 + i / 1440]
        for i in range(50)
    ]
    null_key = [list(r) for r in rows]
    null_key[17][0] = None
    i = header.index("quantite")
    return {
        "ventes_valid": (xlsx_bytes(header, rows), {}, "scan"),
        "ventes_null_key": (xlsx_bytes(header, null_key), {}, "scan"),
        "ventes_missing_column": (
            xlsx_bytes(header[:i] + header[i + 1:], [r[:i] + r[i + 1:] for r in rows]),
            {}, "scan",
        ),
    }


def _cells(df: pd.DataFrame):
    return (
        [str(c) for c in df.columns],
        [str(t) for t in df.dtypes],
        [[(type(v).__name__, repr(v)) for v in row] for row in df.itertuples(index=False)],
    )


def _walk_only(data: bytes, kwargs: dict) -> pd.DataFrame:
    """parse_xlsx_bytes with the scan declining every document."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(xlsx_mini, "_scan_grid", lambda xml, shared: None)
        return parse_xlsx_bytes(data, **kwargs)


def _scanned(data: bytes, kwargs: dict):
    """What the scan alone makes of the selected worksheet."""
    zf = zipfile.ZipFile(io.BytesIO(data))
    xml = zf.read(f"xl/worksheets/sheet{kwargs.get('sheet', 0) + 1}.xml")
    return xlsx_mini._scan_grid(xml, xlsx_mini._shared_strings(zf))


def _check(data: bytes, kwargs: dict, path: str) -> None:
    ref = _walk_only(data, kwargs)
    got = parse_xlsx_bytes(data, **kwargs)
    pd.testing.assert_frame_equal(got, ref, check_exact=True)
    assert _cells(got) == _cells(ref)
    assert (_scanned(data, kwargs) is not None) == (path == "scan")


@pytest.mark.parametrize("name", list(FIXTURES))
def test_scan_equals_etree_reference(name):
    _check(*FIXTURES[name])


def test_scan_equals_etree_on_every_ingest_drop_kind(xlsx_bytes):
    for name, case in _ventes_kinds(xlsx_bytes).items():
        _check(*case)
        assert len(parse_xlsx_bytes(case[0])) == 50, name


ROWS_2 = '<row r="2"><c r="A2"><v>1</v></c></row>'

MALFORMED = {
    "row_never_closed": _sheet(HEAD + '<row r="2"><c r="A2"><v>1</v></c>'),
    "unclosed_element_before_sheet_data": (
        f'<worksheet xmlns="{NS}"><cols><col min="1" max="2">'
        f"<sheetData>{HEAD}{ROWS_2}</sheetData></worksheet>"
    ),
    "mismatched_tag_after_sheet_data": (
        f'<worksheet xmlns="{NS}"><sheetData>{HEAD}{ROWS_2}</sheetData>'
        '<pageMargins left="0.7"></pageSetup></worksheet>'
    ),
    "truncated_after_sheet_data": f'<worksheet xmlns="{NS}"><sheetData>{HEAD}{ROWS_2}</sheetData>',
    "rich_text_run_never_closed": _sheet(
        HEAD + '<row r="2"><c r="A2" t="inlineStr"><is><r><t>a</t></is></c></row>'
    ),
    "rich_text_stray_close": _sheet(
        HEAD + '<row r="2"><c r="A2" t="inlineStr"><is><t>a</t></r><t>b</t></is></c></row>'
    ),
}


@pytest.mark.parametrize("name", list(MALFORMED))
def test_malformed_sheet_raises_as_the_reference_does(name):
    """A worksheet that is not well-formed XML, inside <sheetData> or
    out of it, is declined by the scan, and the walk raises on it."""
    from xml.etree.ElementTree import ParseError

    data = _book(MALFORMED[name])
    assert _scanned(data, {}) is None
    with pytest.raises(ParseError):
        parse_xlsx_bytes(data)


def test_scan_fixture_values():
    """Spot values, so that a reference and a scan that agree on a wrong
    reading do not pass unnoticed."""
    rich = parse_xlsx_bytes(FIXTURES["rich_text_runs"][0])
    assert rich["k"].tolist() == ["ab cd ph"]
    shared = parse_xlsx_bytes(FIXTURES["shared_strings"][0])
    assert list(shared.columns) == ["k", "rich"] and shared.iloc[0].tolist() == ["x", 7]
    sparse = parse_xlsx_bytes(FIXTURES["sparse_cells_and_rows"][0])
    assert list(sparse.columns) == ["a", "Unnamed: 1", "Unnamed: 2", "d", "Unnamed: 4", "Unnamed: 5"]
    assert len(sparse) == 5 and sparse.iloc[2, 1] == 2 and sparse.iloc[2, 5] == -3
    dup = parse_xlsx_bytes(FIXTURES["duplicate_row_numbers"][0])
    assert dup.iloc[0].tolist() == [3, 2]
    crlf = parse_xlsx_bytes(FIXTURES["crlf_text"][0])
    assert crlf["k"].tolist() == ["a\nb"]
    amp = parse_xlsx_bytes(FIXTURES["amp_entity"][0])
    assert amp["k"].tolist() == ["R&D"]


# ---------------------------------------------------------------------------
# _coerce_to_fields: column-wise against element-wise

EPOCH = datetime.datetime(1899, 12, 30)


def _elementwise_ts(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return None
    if isinstance(v, (int, float)):
        return EPOCH + datetime.timedelta(seconds=round(float(v) * 86400))
    return pd.to_datetime(v).to_pydatetime()


def _elementwise_str(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def _series_cells(s: pd.Series):
    return str(s.dtype), [(type(v).__name__, repr(v)) for v in s]


def _coerced(values, data_type) -> pd.Series:
    frame = pd.DataFrame({"x": pd.Series(values, dtype=object if not values else None)})
    return _coerce_to_fields(frame, [StructField("x", data_type)])["x"]


TIE = 0.5 / 86400  # a serial whose seconds sit on a .5 boundary (before float error)
TS_CASES = {
    "serials": [45658.5, 45659.25, 45660.999994212963],
    "near_ties": [k + TIE for k in range(40000, 40040)] + [2.5 / 86400, 3.5 / 86400, -2.5 / 86400],
    # m / 256 days is m * 337.5 s exactly: odd m sits on a .5 second,
    # which round() and np.rint both send to the even neighbour
    "exact_ties": [d + m / 256 for d in (45658, -3) for m in range(1, 40, 2)],
    "missing": [45658.5, None, float("nan")],
    "ints": [45658, 45659, 0, -1],
    "past_ns_range": [200000.0, None, 1.0],
    "before_ns_range": [-100000.5, 45658.0],
    "datetime_min": [-693593.0, 45658.0],
    "datetime_max": [2958465.9999884, None],
    "all_missing": [None, None],
    "float_nan_only": [float("nan"), float("nan")],
    "strings": ["2025-01-02 03:04:05", None],
    "mixed": [45658.5, "2025-01-02"],
    "random": list(np.random.default_rng(7).uniform(-693593, 2958465, 200)),
}


@pytest.mark.parametrize("case", list(TS_CASES))
def test_timestamp_coercion_equals_elementwise(case):
    values = TS_CASES[case]
    source = pd.Series(values)
    want = source.map(_elementwise_ts)
    got = _coerced(values, TimestampType())
    assert _series_cells(got) == _series_cells(want)


@pytest.mark.parametrize("bad", [3e6, -7e5, float("inf"), float("-inf")])
def test_timestamp_coercion_raises_where_elementwise_raises(bad):
    values = [45658.5, bad]
    with pytest.raises(OverflowError):
        pd.Series(values).map(_elementwise_ts)
    with pytest.raises(OverflowError):
        _coerced(values, TimestampType())


STR_CASES = {
    "strings": ["a", "b"],
    "with_none": ["a", None],
    "with_nan": ["a", float("nan"), None],
    "all_none": [None, None],
    "ints": [612345678, 7],
    "floats": [612345678.0, 1.5, float("nan")],
    "mixed": ["a", 1, 2.0, True, None],
    "with_nat": ["a", pd.NaT],
    "with_na": ["a", pd.NA],
}


@pytest.mark.parametrize("case", list(STR_CASES))
def test_string_coercion_equals_elementwise(case):
    values = STR_CASES[case]
    want = pd.Series(values).map(_elementwise_str)
    got = _coerced(values, StringType())
    assert _series_cells(got) == _series_cells(want)


def _elementwise_decimal(v, q=decimal.Decimal("0.01")):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return None
    return decimal.Decimal(str(v)).quantize(q, rounding=decimal.ROUND_HALF_UP)


DEC_CASES = {
    "floats": [1.005, 2.5, 4744.38, -0.125, 1e-7],
    "missing": [1.5, None, float("nan")],
    "ints": [1, 2, -3],
    "strings": ["1.005", "7"],
    "all_missing": [None, None],
    "empty": [],
}


@pytest.mark.parametrize("case", list(DEC_CASES))
def test_decimal_coercion_equals_elementwise(case):
    values = DEC_CASES[case]
    want = pd.Series(values, dtype=object if not values else None).map(_elementwise_decimal)
    got = _coerced(values, DecimalType(10, 2))
    assert _series_cells(got) == _series_cells(want)


def test_int_coercion_unchanged():
    ints = _coerced([1, 2, None], IntegerType())
    assert str(ints.dtype) == "Int64" and ints.tolist()[:2] == [1, 2] and ints.isna().tolist()[2]
