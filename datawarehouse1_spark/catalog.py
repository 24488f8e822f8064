"""Table catalog over the driver's parquet testdata (TESTDATA.md).

The reference bootstraps its catalog with one-shot DDL
(init-db/init.sql:1-67 -> Postgres system catalog); here the catalog is
`spark.read.parquet` over immutable parquet dirs plus temp views, which
gives Catalyst per-table statistics, column pruning, and filter pushdown
for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

# Dimensions small enough to always broadcast in a star join at any SF the
# reference's schema implies (region/nation are fixed-cardinality).
BROADCAST_DIMS = ("region", "nation")

# Timestamp columns per table: every one is normalized to TIMESTAMP_NTZ
# (UTC wall clock) at load, whatever parquet encoding the generator used.
# The events table drifted once already (TIMESTAMP(NANOS) → timestamp[us],
# round 4); normalizing ALL timestamp columns kills the whole drift class
# — including the silent variant where the session-wide nanosAsLong conf
# (needed for ns files) would otherwise surface a re-encoded o_orderdate /
# l_shipdate as raw BIGINT without an error.
TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


# Per-session memo of the resolved (lazy) table DataFrames — the moral
# equivalent of a metastore catalog. A miss runs no Spark job (the
# schema comes from footer_schema), but it still pays the py4j
# DataFrame construction and analysis of a fresh relation (file
# listing, schema resolution), and a query that touches five tables
# would pay that on EVERY build. The memo holds only the ANALYZED LAZY
# PLAN (schema + file listing), never data or results: every execution
# still scans the parquet inputs. Keyed by the owning SparkSession
# (id() + applicationId — two sessions sharing one context have
# distinct confs/temp-view namespaces, ADVICE r16) and the path, with
# the OS-level file-stat fingerprint (names, sizes, mtimes —
# microseconds to compute) stored as the VALUE guard, so overwriting a
# staged table under the same path (the test_r10_hardening welch
# pattern) yields a fresh plan instead of a stale file listing AND
# evicts the stale entry (one live entry per (session, path), no
# unbounded growth under repeated overwrites). An insert also evicts
# every entry of another applicationId: those plans belong to a
# stopped context and would otherwise pin its JVM objects.
# Missing/unstat-able paths and nested-directory tables bypass the
# memo; every other table goes through it.
_TABLE_MEMO: dict[tuple, tuple[object, DataFrame]] = {}


def _path_fingerprint(path: str):
    """(name, size, mtime_ns) of the parquet file, or of every direct
    child for a directory table (Spark-written parquet dirs get fresh
    part names on overwrite, so name churn alone re-keys). None when
    the path is missing or unstat-able — the caller bypasses the memo.
    Also None when any direct child is itself a directory (VERDICT r16
    #7: a nested/partitioned table can change a depth-2 file without
    touching the depth-1 stats, so a flat fingerprint would serve a
    stale file listing — bypass instead of recursing; a recursive walk
    of a 100k-part production table would be real per-call driver
    work, and the memo's testdata tables are all flat)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return (os.path.basename(path), st.st_size, st.st_mtime_ns)
    entries = []
    try:
        for fn in sorted(os.listdir(path)):
            full = os.path.join(path, fn)
            try:
                s = os.stat(full)
            except OSError:
                continue
            if os.path.isdir(full):
                return None
            entries.append((fn, s.st_size, s.st_mtime_ns))
    except OSError:
        return None
    return tuple(entries)


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _schema_file(path: str) -> str | None:
    """The one file whose footer Spark's non-merging inference reads:
    the path itself, or the first data file of a flat directory in
    Spark's order (by name, as its full paths share the directory).
    Data files are what Spark's file index keeps: not names starting
    with `.`, nor with `_` unless they hold a `=`, nor names ending in
    `._COPYING_`. None for an empty or nested directory, or one with
    parquet summary files (Spark reads `_metadata`/`_common_metadata`
    first).

    Part files that disagree on schema need no special case: Spark's
    inference reads this same one file and reports its schema, and a
    scan with either schema fails or converts the other files alike."""
    if os.path.isfile(path):
        return path
    try:
        names = sorted(os.listdir(path))
    except OSError:
        return None
    data = []
    for name in names:
        if name.startswith(("_metadata", "_common_metadata")):
            return None
        if (
            (name.startswith("_") and "=" not in name)
            or name.startswith(".")
            or name.endswith("._COPYING_")
        ):
            continue
        full = os.path.join(path, name)
        if os.path.isdir(full):
            return None
        data.append(full)
    return data[0] if data else None


def _footer_mappable(at) -> bool:
    """Arrow types whose Spark parquet reading equals from_arrow_type's
    mapping. Everything else (ns timestamps, unsigned ints, large,
    dictionary and map types, time, float16, ...) stays with Spark's
    own inference."""
    import pyarrow.types as pat

    if pat.is_struct(at):
        return at.num_fields > 0 and all(_footer_mappable(f.type) for f in at)
    if pat.is_list(at):
        return _footer_mappable(at.value_type)
    if pat.is_timestamp(at):
        return at.unit != "ns"
    return any(
        pred(at)
        for pred in (
            pat.is_boolean, pat.is_int8, pat.is_int16, pat.is_int32,
            pat.is_int64, pat.is_float32, pat.is_float64, pat.is_string,
            pat.is_binary, pat.is_date32, pat.is_decimal128,
        )
    )


def _arrow_ts_zones(fields):
    """Whether each timestamp leaf under `fields` carries a time zone,
    depth first (parquet's column order)."""
    import pyarrow.types as pat

    for f in fields:
        if pat.is_struct(f.type):
            yield from _arrow_ts_zones(f.type)
        elif pat.is_list(f.type):
            yield from _arrow_ts_zones([f.type.value_field])
        elif pat.is_timestamp(f.type):
            yield f.type.tz is not None


def _as_nullable(dt):
    """Spark's DataType.asNullable: a file-source relation reports every
    field, element and value nullable, whatever the footer says."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def footer_schema(spark: SparkSession, path: str):
    """The StructType Spark's schema inference gives the flat parquet
    file or directory at `path`, read from one footer on the driver with
    pyarrow: no Spark job (inference runs one per call, ~100 ms on a
    4-core box).

    Spark-written files carry their schema as JSON in the footer, which
    Spark's inference prefers; other files map through from_arrow_schema.
    Returns None wherever only Spark's inference is exact — a session
    merging schemas or reading binary as string, an empty, nested or
    summary-file directory, an unreadable footer, INT96 or nanosecond
    timestamps (bigint under nanosAsLong), a footer whose timestamp
    zones disagree with its arrow schema, and types outside
    _footer_mappable — and the caller lets Spark infer.

    A directory is assumed to hold one schema across its part files,
    as Spark's non-merging inference assumes too."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    conf = spark.conf
    if (
        conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true"
        or conf.get("spark.sql.parquet.binaryAsString", "false").lower() == "true"
    ):
        return None
    file = _schema_file(path)
    if file is None:
        return None
    try:
        meta = pq.read_metadata(file)
        spark_json = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
        if spark_json is not None:
            return _as_nullable(StructType.fromJson(json.loads(spark_json)))
        columns = [meta.schema.column(i) for i in range(len(meta.schema))]
        arrow = meta.schema.to_arrow_schema()
    except (OSError, ValueError, KeyError, pa.ArrowException):
        return None
    parquet_ts = []
    for col in columns:
        if col.physical_type == "INT96":
            return None
        if col.logical_type.type == "TIMESTAMP":
            ts = json.loads(col.logical_type.to_json())
            if ts["timeUnit"] == "nanoseconds":
                return None
            parquet_ts.append(ts["isAdjustedToUTC"])
    if not all(_footer_mappable(f.type) for f in arrow):
        return None
    if list(_arrow_ts_zones(arrow)) != parquet_ts:
        return None
    ntz = conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    return _as_nullable(
        from_arrow_schema(arrow, prefer_timestamp_ntz=ntz.lower() == "true")
    )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Parquet scan => vectorized reader, pushdown.
    Timestamp columns (TS_COLUMNS) are normalized to TIMESTAMP_NTZ."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    fp = _path_fingerprint(path)
    memo_on = fp is not None
    app_id = spark.sparkContext.applicationId
    key = (id(spark), app_id, path)
    if memo_on:
        cached = _TABLE_MEMO.get(key)
        if cached is not None and cached[0] == fp:
            return cached[1]
    ts_cols = TS_COLUMNS.get(name, ())
    if ts_cols:
        # Runtime-settable; harmless when no file is TIMESTAMP(NANOS).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    read_path = os.path.join(sf_dir, f"{name}.parquet")
    schema = footer_schema(spark, read_path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(read_path)
    for col in ts_cols:
        df = _normalize_ts_column(df, name, col)
    if memo_on:
        # insert-replaces: the previous fingerprint's entry for this
        # (session, path) is evicted, not accumulated (ADVICE r16), and
        # so is every entry of a stopped context
        for stale in [k for k in _TABLE_MEMO if k[1] != app_id]:
            del _TABLE_MEMO[stale]
        _TABLE_MEMO[key] = (fp, df)
    return df


def _normalize_ts_column(df: DataFrame, tbl: str, col: str) -> DataFrame:
    """Normalize one timestamp column to TIMESTAMP_NTZ (UTC wall clock),
    branching on the type Spark ACTUALLY loaded instead of assuming one
    parquet encoding:

    - LongType        -> TIMESTAMP(NANOS) surfaced via nanosAsLong; integer
                         div to micros (double div loses ulp precision at
                         ~1.7e18 ns and floors off-by-one), then ntz_utc
                         because timestamp_micros manufactures an LTZ
                         instant that would drag the session time zone into
                         window/date_trunc results.
    - TimestampType   -> an LTZ instant; rebase to the UTC wall clock NTZ.
    - TimestampNTZType-> already the naive UTC wall clock DuckDB reads;
                         pass through untouched.

    Any other type is a new, unhandled drift: fail loudly with the loaded
    schema so the next upstream change is a one-line error, not a stack
    trace 13 queries deep.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    from datawarehouse1_spark.functions import ntz_utc

    dtype = df.schema[col].dataType
    if isinstance(dtype, TimestampNTZType):
        return df
    if isinstance(dtype, LongType):
        return df.withColumn(
            col, ntz_utc(F.timestamp_micros(F.expr(f"{col} div 1000")))
        )
    if isinstance(dtype, TimestampType):
        return df.withColumn(col, ntz_utc(F.col(col)))
    raise TypeError(
        f"{tbl}.{col} loaded as unsupported type {dtype}; expected "
        "timestamp_ntz, timestamp, or bigint (nanosAsLong). The testdata "
        "encoding drifted again — extend catalog._normalize_ts_column."
    )


def events_stream_source(spark: SparkSession, src_dir: str, **read_options):
    """Streaming twin of table()/_normalize_ts_column: `readStream` needs an explicit
    schema up front, so branch on the parquet FOOTER (pyarrow, no Spark
    job) to pick the schema + normalizer matching the file's actual
    `ts` encoding — same drift-proofing as the batch path.

    Returns a streaming DataFrame with `ts` normalized to TIMESTAMP_NTZ
    (UTC wall clock), identical to what catalog.table() yields in batch.
    """
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from datawarehouse1_spark.functions import ntz_utc

    # *.parquet entries may be plain files or Spark-written directories
    # (part files inside); sniff the first actual file's footer.
    files = [
        f
        for pattern in ("*.parquet", "*.parquet/part-*.parquet")
        for f in sorted(glob.glob(os.path.join(src_dir, pattern)))
        if os.path.isfile(f)
    ]
    if not files:
        raise FileNotFoundError(f"no parquet files under {src_dir}")
    ts_type = str(pq.read_schema(files[0]).field("ts").type)

    base = [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
    if ts_type.startswith("timestamp[ns"):
        # Covers both 'timestamp[ns]' and 'timestamp[ns, tz=...]': Spark
        # surfaces TIMESTAMP(NANOS) parquet only via nanosAsLong (as
        # BIGINT), tz-tagged or not, so the ns check must precede the
        # tz branch. Parquet tz-tagged values are UTC-normalized
        # (isAdjustedToUTC), so div-to-micros + ntz_utc yields the same
        # UTC wall clock either way.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ts_field = T.StructField("ts", T.LongType())
        normalize = lambda c: ntz_utc(  # noqa: E731
            F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_type.startswith("timestamp[") and "tz=" in ts_type:
        ts_field = T.StructField("ts", T.TimestampType())
        normalize = lambda c: ntz_utc(c)  # noqa: E731
    elif ts_type.startswith("timestamp["):
        ts_field = T.StructField("ts", T.TimestampNTZType())
        normalize = lambda c: c  # noqa: E731
    else:
        raise TypeError(
            f"events.ts parquet encoding {ts_type!r} unsupported; extend "
            "catalog.events_stream_source alongside _normalize_ts_column."
        )

    schema = T.StructType(base[:1] + [ts_field] + base[1:])
    reader = spark.readStream.schema(schema)
    for k, v in read_options.items():
        reader = reader.option(k, v)
    df = reader.parquet(src_dir)
    return df.withColumn("ts", normalize(F.col("ts")))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a temp view so spark.sql() queries work too."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
