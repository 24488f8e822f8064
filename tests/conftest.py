"""Shared fixtures: one SparkSession per test run, a DuckDB oracle
connection with the testdata views pre-registered (mirroring the driver's
harness), and the comparison helper replicating its check: row count +
sorted-by-name schema + order-insensitive value equality.
"""

from __future__ import annotations

import io
import math
import os
import zipfile
from datetime import date, datetime
from xml.sax.saxutils import escape

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session", autouse=True)
def _testdata_schema_gate():
    """Fail the whole run with ONE named diff if the testdata drifted
    (r4: an upstream events.ts re-encode surfaced as 25 opaque failures)."""
    from datawarehouse1_spark.schema_guard import assert_testdata_schema

    assert_testdata_schema(SF_DIR)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    from datawarehouse1_spark import get_spark

    s = get_spark("datawarehouse1-tests")
    yield s
    s.stop()


# --- r17 fast/slow test tiers (VERDICT r16 #2) -------------------------
# The driver's verify window cannot fit the full 1580-test suite
# (VERIFY_r16 tests_ok=false was a timeout at ~90%, zero failures), so
# default runs deselect the `slow` tier (pytest.ini addopts). The tier
# split is maintained HERE, in one place, instead of 100 pytestmark
# edits. Slow = whole categories whose per-test cost is dominated by
# end-to-end machinery (micro-batch streaming restarts, JDBC serving,
# codec round-trips, property-based replays) plus the individually
# measured top offenders in otherwise-fast files (>=8 s each on the r17
# box). The oracle contract — every declared query against DuckDB
# (test_oracle_parity) and over an empty corpus — stays in the default
# tier, and so does the versioned-snapshot maintainer contract
# (test_snapshot_store, test_snapshot_sink, test_drift_monitor and the
# test_streaming_<maintainer> modules).
# Full suite (builder's batch-end gate): -m "slow or not slow".

SLOW_MODULES = {
    "test_sql_serving",         # Thrift/JDBC end-to-end (250+ s)
    "test_property_based",      # randomized replays (~90 s)
    "test_accuracy_metrics",    # recall/parity metric recomputation (~115 s)
    "test_determinism",         # shuffle-partition invariance re-runs
    "test_dedup_similarity",    # IVF/LSH recall tuning loops
    "test_scale_temporal_ops",  # compaction e2e (file-system heavy)
    "test_excel_lifecycle_e2e",
    "test_stateful_streaming",
    "test_statestore_reader",
    "test_stream_batch_parity",
    "test_streaming",
    "test_flac_codec",          # codec round-trips: pure-python en/decode
    "test_gif_codec",
    "test_jpeg_codec",
    "test_tiff_codec",
    "test_mp3_scan",
    "test_mp4_demux",
    "test_multimodal_codecs",
    "test_xlsx_real",
}

# Individually slow tests (>= ~8 s measured r17) in otherwise-fast files.
SLOW_TESTS = {
    "test_declared_outputs_are_driver_safe_types",      # 122 s
    "test_ohlc_bucket_stays_ntz",                       # 75 s
    "test_bf_equal_spread_small_wide_spread_large",     # 30 s
    "test_bf_declared_arms_sane",                       # 12 s
    "test_flagship_survives_no_broadcast",              # 18 s
    "test_ivf_spill_knee_at_production_ratio",          # 17 s
    "test_extract_changes_roundtrip_property",          # 20 s
    "test_takedown_noop_proof_row_is_durable_and_idempotent",  # 9 s
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = os.path.splitext(os.path.basename(str(item.fspath)))[0]
        if mod in SLOW_MODULES or getattr(item, "originalname", item.name) in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


def _xlsx_cell(col: int, row: int, value) -> str:
    ref = f"{'ABCDEFGHIJ'[col]}{row}"
    if value is None:
        return ""
    if isinstance(value, str):
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(value)}</t></is></c>'
    return f'<c r="{ref}"><v>{value}</v></c>'


def _xlsx_bytes(header: list[str], rows: list[list]) -> bytes:
    """A one-sheet workbook with inline strings and numeric cells, written
    with the standard library in the subset sources/xlsx_mini.py reads;
    None leaves the cell out (an empty cell)."""
    body = []
    for r, values in enumerate([header, *rows], start=1):
        cells = "".join(_xlsx_cell(c, r, v) for c, v in enumerate(values))
        body.append(f'<row r="{r}">{cells}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg_rels = "http://schemas.openxmlformats.org/package/2006/relationships"
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
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg_rels}">'
            f'<Relationship Id="rId1" Type="{rel_ns}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} xmlns:r="{rel_ns}">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg_rels}">'
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


@pytest.fixture(scope="session")
def xlsx_bytes():
    """`xlsx_bytes(header, rows) -> bytes`: a one-sheet workbook."""
    return _xlsx_bytes


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm_cell(v):
    """Normalize a value for cross-engine comparison."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr of the double — bit-exactness is the contract
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    # Decimal, int, str
    return str(v)


def rows_to_canon(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name, normalize cells, sort rows — the driver's
    order-insensitive value-hash, materialized for useful diffs."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    canon.sort()
    return canon


_INT_TYPES = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "INT", "LONG", "SHORT", "BYTE",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_FLOAT_TYPES = {"FLOAT", "DOUBLE", "REAL"}


def _type_class(type_name: str) -> str:
    """Collapse an engine type name to the class that decides how a
    pandas-based fetch renders it. HUGEINT and DECIMAL are their own
    classes on purpose: DuckDB HUGEINT becomes float64 in pandas
    ('3.0' vs Spark long '3') and Spark DecimalType keeps trailing
    zeros ('1234.50' vs float '1234.5') — both broke driver hashes in
    r1 while str()-based comparison passed locally."""
    t = type_name.upper()
    if t == "HUGEINT":
        return "hugeint"
    if "DECIMAL" in t:
        return "decimal"
    if t in _INT_TYPES:
        return "int"
    if t in _FLOAT_TYPES:
        return "float"
    if "TIMESTAMP" in t:
        return "ts"
    return "other"


def compare_query(spark, oracle, fn, sql, sf_dir=SF_DIR):
    sdf = fn(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = oracle.sql(sql)
    assert rel is not None, (
        "oracle.sql() returned None — the oracle string is not a single "
        "SELECT (duckdb .sql() silently returns None for DDL/pragmas)"
    )
    duck_cols = list(rel.columns)
    duck_type_names = [str(t) for t in rel.types]
    duck_rows = rel.fetchall()

    # type-class gate (mirrors the driver's dtype-sensitive canonicalization)
    duck_types = dict(zip(duck_cols, duck_type_names))
    spark_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    for c in spark_cols:
        if c in duck_types:
            sc_, dc_ = _type_class(spark_types[c]), _type_class(duck_types[c])
            assert sc_ == dc_, (
                f"type-class mismatch on {c!r}: spark {spark_types[c]} ({sc_}) "
                f"vs duck {duck_types[c]} ({dc_}) — would hash-mismatch in the "
                f"driver's pandas fetch even if values agree"
            )
            # decimal/hugeint are never-safe even when BOTH sides agree:
            # the driver's pandas fetch renders DuckDB DECIMAL as float64
            # ('1234.5') but Spark DecimalType keeps scale ('1234.50') —
            # the exact r1 q_cast_types failure. Queries must project
            # decimals to DOUBLE or VARCHAR before returning.
            assert sc_ not in {"decimal", "hugeint"}, (
                f"output column {c!r} has never-safe type class {sc_!r} "
                f"(spark {spark_types[c]} / duck {duck_types[c]}): project "
                f"to DOUBLE or VARCHAR on both sides"
            )

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    sc = rows_to_canon(spark_cols, spark_rows)
    dc = rows_to_canon(duck_cols, duck_rows)
    if sc != dc:
        diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:5]
        raise AssertionError(f"value mismatch; first diffs (spark, duck): {diffs}")
