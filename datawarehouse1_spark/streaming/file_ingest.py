"""Streaming file ingest — the reference's main loop, Spark-native.

Reference (etl/app.py:249-289): poll WATCH_DIRECTORY every
POLLING_INTERVAL seconds, skip `~$` lock files, skip already-processed
files via the file_metadata table, per-file try/except with status
recording, reconnect-with-backoff on errors.

Spark mapping (SURVEY.md E2): Structured Streaming's file source IS that
loop — checkpointed file tracking replaces file_metadata (exactly-once,
etl/app.py:36-89 subsumed), trigger(processingTime) replaces the sleep,
query restart from checkpoint replaces reconnect/backoff. foreachBatch
runs validate-then-publish per micro-batch, preserving the reference's
fail-the-file atomicity.

The xlsx commit (`service.run_service` -> `stream_ingest(fmt="xlsx")` ->
`sources/excel.py` parse task -> `IngestSink.commit` ->
`append_if_valid`) runs 1 Spark job per single-file trigger, 2 when a
status row is written:

1. one write of the batch's data rows to a staging directory under the
   stream's checkpoint directory (never inside the table). It runs the
   parse task, which already holds each file as one pandas frame and
   counts the file's rows, NOT NULL violations and in-file duplicate
   keys there. Each file's counts travel as a marker row that the same
   plan gathers with `observe(collect_list(...))`, so they reach the
   driver with that job;
2. the `file_status` append, only when some file failed to parse (a
   missing required column, an unreadable workbook), built on the
   driver from the failed files' markers.

`append_if_valid` decides from those counts. An accepted batch is
published by renaming its staged part files into the table (no Spark
job); a rejected batch's staging is deleted. Readers of the table never
see unvalidated rows: the checks run before publish. Published files
are named after the query id (which Spark keeps in the checkpoint) and
the batch id, so a batch that Spark replays after a crash between the
publish and its commit log finds its files in place and appends nothing
twice; status rows are published the same way. A stream on a recreated
checkpoint has a new query id, so its batch numbering, restarted at 0,
does not collide with the batches it published before. Publishing is a rename, so the
table and status directories must be on the checkpoint's file system;
`stream_ingest` checks that, and clears the staging root, when it
starts.

Keys duplicated across files are checked with `duplicate_keys` (3 more
jobs) over the staged files, read with the known schema, only when a
batch holds two or more parsed files; the result equals
`validate_batch`'s batch-wide count. Non-xlsx formats keep
`validate_batch`'s counting jobs and a Spark append. The parse task
itself is cheap only in a worker where `zip_finders.install()` has run:
without it, pyspark's per-task `importlib.invalidate_caches()` re-reads
`pyspark.zip` ~16 times before the parse starts (~210-240 ms of worker
CPU against ~40 ms, on a 4-core x86 box).
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
    `IngestSink` also gets each file's counts from the parse task. Every
    xlsx batch is staged under `<checkpoint_dir>/_staging`, which is
    cleared here: a staging directory left by a crash holds no batch a
    restart still needs. Staged files are published by rename, so a
    `status_dir` or IngestSink table on another file system than the
    checkpoint raises ValueError here."""
    if fmt == "xlsx":
        from datawarehouse1_spark.operators.ingest import check_same_file_system, delete_path
        from datawarehouse1_spark.sources.excel import xlsx_stream

        staging = f"{checkpoint_dir.rstrip('/')}/_staging"
        status_dir = status_dir or f"{checkpoint_dir.rstrip('/')}/file_status"
        checks = sink if isinstance(sink, IngestSink) else None
        targets = (status_dir, checks.table_path) if checks else (status_dir,)
        check_same_file_system(spark, staging, *targets)
        delete_path(spark, staging)
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
        sink = _with_status_sink(sink, staging, status_dir)
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
    inner: Callable[[DataFrame, int], None],
    staging_root: str,
    status_dir: str,
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink over xlsx_stream(with_status=True) output.
    One write stages the data rows (parse_error and marker columns
    dropped) under `staging_root` and gathers the marker rows with
    observe(), so parsing, counting and staging are one Spark job.
    Failed files' markers become durable quarantine rows in `status_dir`
    (append-only parquet — one row per failed file: source_file,
    parse_error, imported_at, batch_id, status). The wrapped sink gets
    the staged rows read back with their known schema (no inference
    job), valid only during the call, with the markers and the staging
    directory when it is an IngestSink. The staging is deleted after
    the call, published or not. Published file names carry the query
    id and the batch id (operators.ingest.publish_staged)."""
    from pyspark.sql import Observation

    from datawarehouse1_spark.operators.ingest import delete_path, publish_staged
    from datawarehouse1_spark.sources.excel import DUP_KEYS, FILE_ROWS, MARKER_COLS, NULL_ROWS

    marker = F.struct("source_file", "parse_error", "imported_at", FILE_ROWS, NULL_ROWS, DUP_KEYS)

    def sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        stage = f"{staging_root}/batch-{batch_id}"
        # the id Spark stores in the checkpoint, set on the stream's thread
        query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        name = f"{query_id}-{batch_id:010d}"
        is_marker = F.col(FILE_ROWS).isNotNull()
        obs = Observation()
        rows = (
            batch.observe(obs, F.collect_list(F.when(is_marker, marker)).alias("markers"))
            .filter(~is_marker)
            .drop("parse_error", *MARKER_COLS)
        )
        try:
            rows.write.mode("overwrite").parquet(f"{stage}/rows")
            markers = obs.get["markers"]
            failed = [
                (m.source_file, m.parse_error, m.imported_at)
                for m in markers
                if m.parse_error is not None
            ]
            if failed:
                spark.createDataFrame(
                    failed, "source_file string, parse_error string, imported_at timestamp"
                ).select(
                    "*", F.lit(batch_id).alias("batch_id"), F.lit("error").alias("status")
                ).write.mode("overwrite").parquet(f"{stage}/status")
                publish_staged(spark, f"{stage}/status", name, status_dir)
            staged = spark.read.schema(rows.schema).parquet(f"{stage}/rows")
            if isinstance(inner, IngestSink):
                inner.commit(staged, batch_id, markers, f"{stage}/rows", name)
            else:
                inner(staged, batch_id)
        finally:
            delete_path(spark, stage)

    return sink


class IngestSink:
    """foreachBatch body: validate-then-publish per micro-batch (the
    transaction-per-file analog) into the parquet table at `table_path`.
    Invalid batches are skipped whole — the streaming query keeps
    running (per-file try/except semantics, etl/app.py:271-275). The
    accept/reject decision is `operators.ingest.append_if_valid`, looked
    up at call time.

    An xlsx batch arrives staged (`commit`): it is checked before it is
    published, and publishing renames its staged files into the table
    under names taken from the query id and the batch id, so a batch
    replayed after a crash between the publish and the stream's commit
    log appends nothing twice, while a stream on a recreated checkpoint
    publishes its renumbered batches. A native-format batch (`__call__`)
    is appended by a Spark write after the checks; a replay of it
    appends again."""

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

    def commit(
        self, rows: DataFrame, batch_id: int, markers: list[Row], path: str, name: str
    ) -> None:
        """The staged data rows of an xlsx batch (`rows` reads `path`)
        plus one marker row per file (sources/excel.py): the counts come
        from the markers; keys are re-counted over the staged rows only
        when two or more files hold rows. `name` names the batch's
        published files (operators.ingest.publish_staged)."""
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
            staged=ingest.Staged(path, name, counts),
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
