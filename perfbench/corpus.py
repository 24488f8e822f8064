"""Seeded benchmark inputs: the star-schema corpus and the ventes xlsx drops.

The star schema has the shape and value ranges of the engine's test corpus
(TPC-H-style tables plus events, documents and embeddings), generated from
a seed with NumPy so that every run builds its own inputs. The xlsx files
are written with the standard library only (zipfile + SpreadsheetML), in
the subset the engine's stdlib reader parses.
"""

from __future__ import annotations

import datetime as dt
import io
import os
import zipfile
from dataclasses import dataclass, field
from decimal import Decimal
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_ORDER_START = np.datetime64("1995-01-01")
_ORDER_DAYS = 2404  # through 2001-08-01
_SHIP_START = np.datetime64("1995-01-02")
_SHIP_DAYS = 2499  # through 2001-11-04
_EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_star_schema(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten corpus tables as one parquet file each; returns row
    counts. Cardinalities scale with `sf` as in TPC-H (lineitem = 6M·sf);
    documents and embeddings keep a floor of 500 rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 40)
    n_evt = max(int(1_000_000 * sf), 100)
    n_user = max(int(15_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
    })
    odate = _ORDER_START + rng.integers(0, _ORDER_DAYS, n_ord).astype("timedelta64[D]")
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    sdate = _SHIP_START + rng.integers(0, _SHIP_DAYS, n_line).astype("timedelta64[D]")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(sdate.astype("datetime64[us]")),
    })
    ts = _EVENT_START + np.sort(rng.integers(0, _EVENT_SPAN_US, n_evt)).astype(
        "timedelta64[us]"
    )
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_user, n_evt).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n_evt), 560.0), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    lengths = rng.integers(10, 100, n_doc)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lengths]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_WEIGHTS)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_evt, "documents": n_doc, "embeddings": n_vec,
    }


# ---------------------------------------------------------------------------
# ventes xlsx drops

VENTES_COLUMNS = ["vente_id", "client_id", "produit_id", "quantite", "prix_total", "date_vente"]
N_PRODUCTS = 200
_EXCEL_EPOCH = dt.datetime(1899, 12, 30)


@dataclass
class XlsxDrop:
    """One generated ventes file and what the ingest must make of it."""

    name: str
    data: bytes
    kind: str  # valid | null_key | missing_column
    rows: int
    revenue: dict[str, Decimal] = field(default_factory=dict)  # valid files only


def _cell(col: int, row: int, value) -> str:
    ref = f"{'ABCDEFGHIJ'[col]}{row}"
    if value is None:
        return ""
    if isinstance(value, str):
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(value)}</t></is></c>'
    return f'<c r="{ref}"><v>{value}</v></c>'


def xlsx_bytes(header: list[str], rows: list[list]) -> bytes:
    """A one-sheet workbook with inline strings and numeric cells."""
    body = []
    for r, values in enumerate([header, *rows], start=1):
        cells = "".join(_cell(c, r, v) for c, v in enumerate(values))
        body.append(f'<row r="{r}">{cells}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel_ns}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} xmlns:r="{rel_ns}">'
            '<sheets><sheet name="ventes" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel_ns}/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet {ns}><sheetData>'
            + "".join(body)
            + "</sheetData></worksheet>"
        ),
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in parts.items():
            zf.writestr(name, text)
    return buf.getvalue()


def invalid_kind(seed: int, index: int) -> str:
    """Which files are invalid, from the seed: one NULL-key and one
    missing-column file in every block of 20 (10 %), and in the first block
    the two sit among the first three files, so every run that drops three
    files exercises both rejection paths."""
    rng = np.random.default_rng([seed, index // 20])
    lo = 3 if index < 20 else 20
    slots = rng.choice(lo, 2, replace=False)
    pos = index % 20
    if pos == slots[0]:
        return "null_key"
    if pos == slots[1]:
        return "missing_column"
    return "valid"


def ventes_drop(seed: int, index: int, rows: int) -> XlsxDrop:
    """File `index` of the seeded ventes stream: `rows` sales lines with
    unique vente_ids, money in exact cents and dates as Excel serials."""
    rng = np.random.default_rng([seed, 7919, index])
    kind = invalid_kind(seed, index)
    products = rng.integers(0, N_PRODUCTS, rows)
    cents = rng.integers(100, 500_000, rows)
    minutes = rng.integers(0, 365 * 1440, rows)
    base = (dt.datetime(2025, 1, 1) - _EXCEL_EPOCH).days
    table = []
    revenue: dict[str, Decimal] = {}
    for i in range(rows):
        pid = f"PRD{products[i]:04d}"
        price = Decimal(int(cents[i])).scaleb(-2)
        table.append([
            f"V{seed}-{index:04d}-{i:05d}",
            f"CLI{int(rng.integers(0, 5000)):05d}",
            pid,
            int(rng.integers(1, 20)),
            float(price),  # repr round-trips the two decimals exactly
            base + int(minutes[i]) / 1440,
        ])
        revenue[pid] = revenue.get(pid, Decimal(0)) + price
    header = list(VENTES_COLUMNS)
    if kind == "null_key":
        table[int(rng.integers(0, rows))][0] = None
    elif kind == "missing_column":
        drop = VENTES_COLUMNS.index("quantite")
        header.pop(drop)
        for r in table:
            r.pop(drop)
    return XlsxDrop(
        name=f"ventes_{index:04d}.xlsx",
        data=xlsx_bytes(header, table),
        kind=kind,
        rows=rows,
        revenue=revenue if kind == "valid" else {},
    )
