"""Excel (.xlsx) ingest source.

Reference behavior being re-expressed (not ported):
  * safe_read_excel: read one xlsx into a DataFrame, retrying on locked
    files (etl/app.py:92-141) -> Spark task retries subsume the retry
    loop; the read itself runs inside executors.
  * lock-file skip: `~$`-prefixed names excluded (etl/app.py:262-263)
    -> pathGlobFilter.
  * required-columns check (etl/app.py:150-155,179-184,208-213)
    -> validate_required_columns below, fail-the-file atomicity.

Spark has no built-in xlsx reader, so the distributed shape is:
`binaryFile` source (one row per file: path + bytes) -> mapInPandas
parsing each file's bytes inside the task. Parsing is per-file parallel,
bytes never hit the driver.

The parse itself uses the vendored pure-stdlib reader
(sources/xlsx_mini.py), so the same bytes give the same values in every
environment; tests drive it end-to-end on the reference's own
data/excel/*.xlsx bytes.

On the streaming ingest path (xlsx_stream) the parse task also emits one
marker row per file: its parse error, its row count and its in-file
duplicate business keys, counted on the pandas frame the task already
holds. The sink gathers the markers with observe() on the same write
that stages the rows, and commits a single-file trigger in 1 Spark job
(2 with a status row); see streaming/file_ingest.py. The
worksheet XML is read by one regex scan (sources/xlsx_mini.py), and the
common column shapes coerce column-wise: on a 4-core x86 box the task
body for a 2,000-row ventes file (parse, coerce, counts, Arrow batch)
takes ~32-54 ms, against ~125-130 ms with the ElementTree walk and
element-wise coercion. The task's fixed cost is small only because the package
installs zip_finders on import: pyspark invalidates import caches before
every task, and on CPython 3.11 that re-reads pyspark.zip's directory
once per cached sub-package finder. Measured on a 4-core x86 box, a
reused worker spent ~210-240 ms of CPU between two tasks without the
fix and ~40 ms with it.
"""

from __future__ import annotations

import datetime
import os
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

LOCK_GLOB = "[!~]*.xlsx"  # excludes Excel `~$...` lock files


class MissingColumnsError(ValueError):
    """Raised when a file lacks required columns (whole file rejected —
    the reference's fail-the-file semantics, etl/app.py:150-155)."""


def default_xlsx_parser(name: str, data: bytes) -> pd.DataFrame:
    """Parse xlsx bytes with the vendored stdlib reader (xlsx_mini): it
    keeps date-formatted cells as the raw serial floats the pipeline
    contract expects (q_excel_serial_date)."""
    from datawarehouse1_spark.sources.xlsx_mini import parse_xlsx_bytes

    return parse_xlsx_bytes(data)


# The streaming parse emits ONE marker row per file (data columns null)
# carrying its row count and its in-file duplicate business keys; data
# rows hold NULL in both, and in `parse_error`.
FILE_ROWS, DUP_KEYS = "file_rows", "file_dup_keys"
MARKER_COLS = (FILE_ROWS, DUP_KEYS)


def _xlsx_out_schema(schema: StructType, streaming: bool = False) -> StructType:
    # Every data field is declared NULLABLE here even when the warehouse
    # schema says NOT NULL: marker rows (streaming=True)
    # carry all-null data columns, and a nullable=False
    # field receiving one NPEs deep in UnsafeProjection the moment the
    # batch is persisted — killing the stream instead of quarantining the
    # file. NOT NULL is a SINK constraint (validate_batch, mirroring the
    # reference where Postgres enforces it at insert, not in the poller).
    # Fields are rebuilt (not .add on the caller's StructType, which
    # mutates in place and would grow the caller's schema).
    out = StructType(
        [StructField(f.name, f.dataType, True) for f in schema.fields]
    )
    out = out.add("source_file", "string").add("imported_at", "timestamp")
    if streaming:
        out = out.add("parse_error", "string")
        for c in MARKER_COLS:
            out = out.add(c, "long")
    return out


_EXCEL_EPOCH = datetime.datetime(1899, 12, 30)
_SECOND = datetime.timedelta(seconds=1)
# The serial seconds a datetime can hold, and those a datetime64[ns] can.
_DATETIME_S = (
    (datetime.datetime.min - _EXCEL_EPOCH) // _SECOND,
    (datetime.datetime.max.replace(microsecond=0) - _EXCEL_EPOCH) // _SECOND,
)
_NS_S = (
    (pd.Timestamp.min.ceil("s").to_pydatetime() - _EXCEL_EPOCH) // _SECOND,
    (pd.Timestamp.max.floor("s").to_pydatetime() - _EXCEL_EPOCH) // _SECOND,
)


def _strings(s: pd.Series) -> pd.Series | None:
    """A column of str values and None/NaN as the element-wise
    conversion gives it (the same strings, None for NaN) in one pass;
    None for any other column."""
    if s.dtype != object or pd.api.types.infer_dtype(s, skipna=True) not in ("string", "empty"):
        return None
    missing = s.isna()
    if not missing.any():
        return s
    if not all(v is None or isinstance(v, float) for v in s[missing]):
        return None  # NaT / pd.NA render as text element-wise
    return s.where(~missing, None)


def _excel_serials(s: pd.Series) -> pd.Series | None:
    """A numeric column of Excel serials as timestamps, equal to the
    element-wise `epoch + timedelta(seconds=round(v * 86400))`: Python's
    round() and np.rint both round half to even, and every serial within
    the datetime range is exact in float64 seconds. Within datetime64[ns]
    the column is datetime64[ns] with NaT for a missing cell; past it,
    datetime objects and None, as pandas infers the element-wise result.
    None (the caller converts element-wise) for a non-numeric column, a
    column without values, and any value that leaves the datetime range,
    where the element-wise conversion raises."""
    if s.dtype.kind not in "if":
        return None
    seconds = np.rint(s.to_numpy(dtype="float64") * 86400)
    present = ~np.isnan(seconds)
    if not present.any():
        return None
    lo, hi = seconds[present].min(), seconds[present].max()
    if not (_DATETIME_S[0] <= lo and hi <= _DATETIME_S[1]):
        return None  # also catches ±inf
    offsets = np.where(present, seconds, 0).astype("int64").astype("m8[s]")
    stamps = np.datetime64(_EXCEL_EPOCH, "s") + offsets
    stamps[~present] = np.datetime64("NaT")
    if _NS_S[0] <= lo and hi <= _NS_S[1]:
        return pd.Series(stamps.astype("M8[ns]"), index=s.index)
    return pd.Series(stamps.astype("M8[us]").astype(object), index=s.index, dtype=object)


def _coerce_to_fields(out: pd.DataFrame, fields) -> pd.DataFrame:
    """Coerce parsed pandas columns to the DECLARED Spark schema (O6 type
    coercion at the source, the reference's implicit pandas->Postgres
    cast). Without this, Arrow serialization of mapInPandas output fails
    on any dtype drift — e.g. clients.xlsx's telephone parses as a
    NUMBER (Excel stores it numerically) while the warehouse declares
    VARCHAR, and the resulting ArrowTypeError escapes the per-file
    try/except (it happens at batch serialization, after parse) and
    kills the whole stream instead of failing the file. Conversions:

      string    — integral floats render Excel-style ("612345678", not
                  "612345678.0"); everything else str()
      int/long  — nullable Int64 (NaN-safe)
      float     — float64
      decimal   — decimal.Decimal quantized to the declared scale
                  (HALF_UP, the reference's Postgres NUMERIC rounding)
      timestamp — numeric cells are Excel serials on the 1899-12-30
                  epoch (how Excel stores every date); others parse via
                  pandas

    String columns of str/None and numeric timestamp columns convert
    column-wise (_strings, _excel_serials) to exactly what the
    element-wise conversion gives; other columns convert element-wise.
    Coercion failures raise inside the caller's per-file try block —
    fail-the-file, never fail-the-stream."""
    import decimal as _decimal

    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
        TimestampType,
    )

    def to_str(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return None
        if isinstance(v, str):
            return v
        if isinstance(v, float) and v.is_integer():
            return str(int(v))
        return str(v)

    def excel_ts(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return None
        if isinstance(v, (int, float)):
            return _EXCEL_EPOCH + datetime.timedelta(seconds=round(float(v) * 86400))
        return pd.to_datetime(v).to_pydatetime()

    for f in fields:
        s = out[f.name]
        t = f.dataType
        if isinstance(t, StringType):
            strings = _strings(s)
            out[f.name] = s.map(to_str) if strings is None else strings
        elif isinstance(t, (IntegerType, LongType, ShortType, ByteType)):
            out[f.name] = pd.to_numeric(s).astype("Int64")
        elif isinstance(t, (DoubleType, FloatType)):
            out[f.name] = pd.to_numeric(s).astype("float64")
        elif isinstance(t, DecimalType):
            q = _decimal.Decimal(1).scaleb(-t.scale)
            out[f.name] = s.map(
                lambda v, q=q: None
                if v is None or (isinstance(v, float) and v != v)  # NaN
                else _decimal.Decimal(str(v)).quantize(
                    q, rounding=_decimal.ROUND_HALF_UP
                )
            )
        elif isinstance(t, TimestampType):
            stamps = _excel_serials(s)
            out[f.name] = s.map(excel_ts) if stamps is None else stamps
    return out


def _make_xlsx_parse_fn(
    parser,
    fields,
    streaming: bool = False,
    business_key: str | None = None,
):
    """The shared per-task parse body: file bytes -> validated rows
    projected to the declared schema `fields` + lineage columns. Used by
    both the batch scan (read_xlsx_dir) and the streaming source
    (xlsx_stream).

    The batch scan raises on a file that fails to parse or validate: the
    caller sees the bad file immediately and no checkpoint is involved.
    The stream (streaming=True) must NOT raise — raising inside a
    streaming micro-batch would terminate the query, and the
    checkpointed source would replay the same bad file on every restart,
    wedging the stream forever. It emits ONE marker row per file instead
    (data columns null, MARKER_COLS set). A failed file's marker carries
    `parse_error` = path + exception and zero counts: that is the
    reference's durable status=error record per file (etl/app.py:271-275
    writes file_metadata rows) — a log line alone leaves operators with
    no queryable record of skipped uploads, so the streaming ingest sink
    routes these rows to a status table (streaming/file_ingest.py). A
    parsed file's marker carries its row count and the keys of
    `business_key` it holds more than once, counted on the pandas frame
    the task already holds (NaN becomes SQL NULL on the way to Spark,
    and NULL keys group together there, hence dropna=False)."""
    col_order = [f.name for f in fields]

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import logging

        now = datetime.datetime.now()

        def _marker(path, error, n_rows, n_dup) -> pd.DataFrame:
            return pd.DataFrame(
                {c: [None] for c in col_order}
                | {
                    "source_file": [os.path.basename(path)],
                    "imported_at": [now],
                    "parse_error": [error],
                    FILE_ROWS: [n_rows],
                    DUP_KEYS: [n_dup],
                }
            )

        for pdf in batches:
            for _, row in pdf.iterrows():
                try:
                    parsed = parser(row["path"], row["content"])
                    validate_required_columns(parsed, col_order, row["path"])
                    out = _coerce_to_fields(parsed[col_order].copy(), fields)
                except Exception as exc:
                    if not streaming:
                        raise
                    logging.getLogger(__name__).exception(
                        "skipping invalid xlsx file %s", row["path"]
                    )
                    yield _marker(row["path"], f"{row['path']}: {exc!r}", 0, 0)
                    continue
                out["source_file"] = os.path.basename(row["path"])
                out["imported_at"] = now
                if not streaming:
                    yield out
                    continue
                n_dup = 0
                if business_key is not None:
                    n_dup = int((out[business_key].value_counts(dropna=False) > 1).sum())
                out["parse_error"] = None
                for c in MARKER_COLS:
                    out[c] = None
                yield out
                yield _marker(row["path"], None, len(out), n_dup)

    return parse


def read_xlsx_dir(
    spark: SparkSession,
    directory: str,
    schema: StructType,
    parser=default_xlsx_parser,
    glob: str = LOCK_GLOB,
) -> DataFrame:
    """Distributed xlsx scan: binaryFile rows -> per-task pandas parse ->
    rows cast to `schema`, plus lineage columns source_file/imported_at
    (the reference's enrichment, etl/app.py:158-159)."""
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(directory)
        .select("path", "content")
    )
    return binary.mapInPandas(
        _make_xlsx_parse_fn(parser, schema.fields), schema=_xlsx_out_schema(schema)
    )


def xlsx_stream(
    spark: SparkSession,
    directory: str,
    schema: StructType,
    glob: str = LOCK_GLOB,
    business_key: str | None = None,
) -> DataFrame:
    """Streaming form of read_xlsx_dir: the binaryFile source watches the
    directory (checkpointed exactly-once file tracking — the reference's
    whole polling/file_metadata loop, etl/app.py:249-289), up to 100 new
    files per trigger, and each new file's bytes parse inside the task
    with the same shared parse body. The reference's actual input
    format, end-to-end on the streaming path. Invalid files never wedge
    the checkpointed stream: every file emits a marker row — for a
    failed file, the durable parse_error status row; for a parsed file,
    its row count and in-file duplicate `business_key` count."""
    binary = (
        spark.readStream.format("binaryFile")
        # binaryFile's schema is fixed, but a streaming source requires
        # it declared explicitly
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", 100)
        .load(directory)
        .select("path", "content")
    )
    return binary.mapInPandas(
        _make_xlsx_parse_fn(
            default_xlsx_parser, schema.fields, streaming=True, business_key=business_key
        ),
        schema=_xlsx_out_schema(schema, streaming=True),
    )


def validate_required_columns(
    df: pd.DataFrame, required: Sequence[str], path: str = "<df>"
) -> None:
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise MissingColumnsError(f"{path}: missing required columns {missing}")


def route_table(filename: str) -> str | None:
    """File-type dispatch (etl/app.py:235-246): substring of the lowered
    basename -> warehouse table, None = skip with warning."""
    base = os.path.basename(filename).lower()
    if base.startswith("~$"):
        return None
    for marker, tbl in (("client", "clients"), ("produit", "produits"), ("vente", "ventes")):
        if marker in base:
            return tbl
    return None


def route_column(path_col: str = "source_file") -> F.Column:
    """The same dispatch as a vectorized column expression."""
    base = F.lower(F.element_at(F.split(F.col(path_col), "/"), -1))
    return (
        F.when(base.startswith("~$"), F.lit(None).cast("string"))
        .when(base.contains("client"), F.lit("clients"))
        .when(base.contains("produit"), F.lit("produits"))
        .when(base.contains("vente"), F.lit("ventes"))
        .otherwise(F.lit(None).cast("string"))
    )
