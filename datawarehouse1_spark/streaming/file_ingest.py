"""Streaming file ingest — the reference's main loop, Spark-native.

Reference (etl/app.py:249-289): poll WATCH_DIRECTORY every
POLLING_INTERVAL seconds, skip `~$` lock files, skip already-processed
files via the file_metadata table, per-file try/except with status
recording, reconnect-with-backoff on errors.

Spark mapping (SURVEY.md E2): Structured Streaming's file source IS that
loop — checkpointed file tracking replaces file_metadata (exactly-once,
etl/app.py:36-89 subsumed), trigger(processingTime) replaces the sleep,
query restart from checkpoint replaces reconnect/backoff. foreachBatch
runs validate-then-write per micro-batch, preserving the reference's
fail-the-file atomicity.

The xlsx commit (`service.run_service` -> `stream_ingest(fmt="xlsx")` ->
`sources/excel.py` parse task -> `IngestSink.commit` ->
`append_if_valid`) runs 2 Spark jobs per single-file trigger, 3 when a
status row is written:

1. one narrow `collect` of the per-file marker rows over the persisted
   batch. It runs the parse task and fills the cache. The parse task
   already holds each file as one pandas frame, so it counts the file's
   rows, NOT NULL violations and in-file duplicate keys there;
2. the `file_status` append, only when some file failed to parse (a
   missing required column, an unreadable workbook);
3. one append of every clean row, decided by `append_if_valid` from
   those counts.

Keys duplicated across files are checked with `duplicate_keys` (3 more
jobs) only when a batch holds two or more parsed files; the result
equals `validate_batch`'s batch-wide count. Non-xlsx formats keep
`validate_batch`'s counting jobs. The parse task itself is cheap only
in a worker where `zip_finders.install()` has run: without it, pyspark's
per-task `importlib.invalidate_caches()` re-reads `pyspark.zip` ~16 times
before the parse starts (~210-240 ms of worker CPU against ~40 ms, on a
4-core x86 box).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

LOCK_GLOB = "[!~]*"  # `~$` Excel lock-file skip (etl/app.py:262-263)


def stream_ingest(
    spark: SparkSession,
    watch_dir: str,
    schema: StructType,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    fmt: str = "parquet",
    trigger_seconds: int = 60,  # deployed POLLING_INTERVAL (docker-compose.yml:35)
    glob: str = LOCK_GLOB,
    status_dir: str | None = None,
) -> StreamingQuery:
    """Watch a directory, enrich with lineage columns, hand each
    micro-batch to `sink` (typically an IngestSink below). fmt='xlsx'
    routes through the binaryFile source + per-task parse
    (sources/excel.py::xlsx_stream) — the reference's actual input
    format on the streaming path; other formats use the native file
    sources.

    On the xlsx path, files that fail to parse/validate are recorded as
    durable status=error rows in `status_dir` (default:
    `<checkpoint_dir>/file_status`, queryable parquet) — the reference's
    per-file file_metadata status row (etl/app.py:271-275). A log-only
    skip would leave operators with no record of dropped uploads. An
    `IngestSink` also gets each file's counts from the parse task."""
    if fmt == "xlsx":
        from datawarehouse1_spark.sources.excel import xlsx_stream

        checks = sink if isinstance(sink, IngestSink) else None
        # lineage columns are added inside the parse body
        stream = xlsx_stream(
            spark,
            watch_dir,
            schema,
            glob=glob if glob != LOCK_GLOB else "[!~]*.xlsx",
            with_status=True,
            business_key=checks.business_key if checks else None,
            not_null_cols=checks.not_null_cols if checks else (),
        )
        sink = _with_status_sink(
            sink, status_dir or f"{checkpoint_dir.rstrip('/')}/file_status"
        )
    else:
        stream = (
            spark.readStream.schema(schema)
            .format(fmt)
            .option("pathGlobFilter", glob)
            .option("maxFilesPerTrigger", 100)
            .load(watch_dir)
            # O5 enrichment (etl/app.py:158-159), the real nondeterministic form
            .withColumn("source_file", F.input_file_name())
            .withColumn("imported_at", F.current_timestamp())
        )
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def _with_status_sink(
    inner: Callable[[DataFrame, int], None], status_dir: str
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink over xlsx_stream(with_status=True) output:
    route failed files' marker rows to a durable quarantine table
    (append-only parquet — one row per failed file: source_file,
    parse_error, imported_at, batch_id, status) and pass the data rows
    (parse_error and marker columns dropped) to the wrapped sink, with
    the marker rows when it is an IngestSink. The batch is persisted
    because it is consumed more than once; the marker collect is its
    first consumer, so it runs the parse and fills the cache."""
    from datawarehouse1_spark.sources.excel import DUP_KEYS, FILE_ROWS, MARKER_COLS, NULL_ROWS

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            markers = (
                batch.filter(F.col(FILE_ROWS).isNotNull())
                .select("source_file", "parse_error", FILE_ROWS, NULL_ROWS, DUP_KEYS)
                .collect()
            )
            if any(m.parse_error is not None for m in markers):
                batch.filter(F.col("parse_error").isNotNull()).select(
                    "source_file",
                    "parse_error",
                    "imported_at",
                    F.lit(batch_id).alias("batch_id"),
                    F.lit("error").alias("status"),
                ).write.mode("append").parquet(status_dir)
            rows = batch.filter(F.col(FILE_ROWS).isNull()).drop("parse_error", *MARKER_COLS)
            if isinstance(inner, IngestSink):
                inner.commit(rows, batch_id, markers)
            else:
                inner(rows, batch_id)
        finally:
            batch.unpersist()

    return sink


class IngestSink:
    """foreachBatch body: validate-then-append per micro-batch (the
    transaction-per-file analog) into the parquet table at `table_path`.
    Invalid batches are skipped whole — the streaming query keeps
    running (per-file try/except semantics, etl/app.py:271-275). The
    accept/reject decision is `operators.ingest.append_if_valid`, looked
    up at call time."""

    def __init__(self, table_path: str, business_key: str, not_null_cols: list[str]):
        self.table_path = table_path
        self.business_key = business_key
        self.not_null_cols = list(not_null_cols)

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        """A batch from a native file source: validate_batch counts it."""
        from datawarehouse1_spark.operators import ingest

        if batch.isEmpty():
            return
        ingest.append_if_valid(
            batch,
            self.table_path,
            self.business_key,
            self.not_null_cols,
            source_file=f"batch-{batch_id}",
        )

    def commit(self, rows: DataFrame, batch_id: int, markers: list[Row]) -> None:
        """The data rows of an xlsx batch plus one marker row per file
        (sources/excel.py): the counts come from the markers; keys are
        re-counted batch-wide only when two or more files hold rows."""
        from datawarehouse1_spark.operators import ingest
        from datawarehouse1_spark.operators.warehouse import duplicate_keys
        from datawarehouse1_spark.sources.excel import DUP_KEYS, FILE_ROWS, NULL_ROWS

        files = [m for m in markers if m.parse_error is None and m[FILE_ROWS]]
        if not files:
            return
        if len(files) > 1:
            n_dup = duplicate_keys(rows, [self.business_key]).count()
        else:
            n_dup = files[0][DUP_KEYS]
        counts = ingest.BatchCounts(
            n_rows=sum(m[FILE_ROWS] for m in files),
            n_null=sum(m[NULL_ROWS] for m in files),
            n_dup=n_dup,
        )
        ingest.append_if_valid(
            rows,
            self.table_path,
            self.business_key,
            self.not_null_cols,
            source_file=", ".join(sorted(m.source_file for m in files)),
            counts=counts,
        )


def stream_tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """C19 streaming form: watermarked event-time tumbling aggregation
    (late rows beyond the watermark are dropped, state is bounded)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def stream_sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """C20 streaming form: native session_window (gap-based, merging)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )

def stream_dedup_within_watermark(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Built-in bounded-state streaming dedup: dropDuplicatesWithinWatermark
    keeps a key's state only until the watermark passes its event time,
    then evicts it — unlike plain dropDuplicates, whose state grows
    without bound. This is the 100 TB-safe default for deduplicating
    at-least-once sources (file redelivery, Kafka replay); the
    applyInPandasWithState/transformWithState twins in
    streaming/stateful.py are the custom-logic forms of the same shape.

    Spark watermarks require TIMESTAMP (LTZ); an NTZ event-time column
    is cast via the session zone — safe here because watermark logic is
    RELATIVE (event-time ordering and gaps survive any fixed-offset
    reinterpretation), unlike window/date_trunc outputs which must stay
    NTZ (see functions.ntz_utc).
    """
    from pyspark.sql.types import TimestampNTZType

    if isinstance(events.schema[ts_col].dataType, TimestampNTZType):
        events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
