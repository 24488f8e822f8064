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

Every format commits the same way (`service.run_service` ->
`stream_ingest` -> `IngestSink.commit` -> `append_if_valid`). An xlsx
stream parses each file in a task (`sources/excel.py`), which emits one
marker row per file beside its data rows; a native file stream (parquet,
csv, json) carries the marker columns as NULLs. Each trigger then runs:

1. one write of the batch's data rows to a staging directory under the
   stream's checkpoint directory (never inside the table), by
   `operators.ingest.stage_batch`. Its `observe()` counts the rows and
   their NOT NULL violations; an upstream `observe(collect_list(...))`
   in the same plan gathers the marker rows (each xlsx file's parse
   error, row count and in-file duplicate keys), so both reach the
   driver with that one job;
2. the `file_status` append, only when some xlsx file failed to parse (a
   missing required column, an unreadable workbook), built on the
   driver from the failed files' markers;
3. the three jobs of `duplicate_keys` over the staged rows, unless
   exactly one parsed xlsx file holds rows (its marker holds the
   count): a native batch and an xlsx batch of two or more files count
   their keys there. The result equals `validate_batch`'s batch-wide
   count.

`append_if_valid` decides from those counts. An accepted batch is
published by renaming its staged part files into the table (no Spark
job); a rejected batch's staging is deleted. Readers of the table never
see unvalidated rows: the checks run before publish. Published files
are named after the query id (which Spark keeps in the checkpoint) and
the batch id, so a batch that Spark replays after a crash between the
publish and its commit log finds its files in place and appends nothing
twice; status rows are published the same way. A stream on a recreated
checkpoint has a new query id, so its batch numbering, restarted at 0,
does not collide with the batches it published before. Publishing is a
rename, so the table and status directories must be on the checkpoint's
file system; `stream_ingest` checks that, and clears the staging root,
when it starts.

The xlsx parse task is cheap only in a worker where
`zip_finders.install()` has run: without it, pyspark's per-task
`importlib.invalidate_caches()` re-reads `pyspark.zip` ~16 times before
the parse starts (~210-240 ms of worker CPU against ~40 ms, on a 4-core
x86 box).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    from datawarehouse1_spark.operators.ingest import Staged

LOCK_GLOB = "[!~]*"  # `~$` Excel lock-file skip (etl/app.py:262-263)


def stream_ingest(
    spark: SparkSession,
    watch_dir: str,
    schema: StructType,
    sink: IngestSink,
    checkpoint_dir: str,
    fmt: str = "parquet",
    trigger_seconds: int = 60,  # deployed POLLING_INTERVAL (docker-compose.yml:35)
    glob: str = LOCK_GLOB,
    status_dir: str | None = None,
) -> StreamingQuery:
    """Watch a directory, enrich with lineage columns, stage each
    micro-batch and commit it into `sink`, an IngestSink below.
    fmt='xlsx' routes through the binaryFile source + per-task parse
    (sources/excel.py::xlsx_stream) — the reference's actual input
    format on the streaming path; other formats use the native file
    sources.

    Files that fail to parse are recorded as durable status=error rows
    in `status_dir` (default: `<checkpoint_dir>/file_status`, queryable
    parquet) — the reference's per-file file_metadata status row
    (etl/app.py:271-275). A log-only skip would leave operators with no
    record of dropped uploads. Every batch is staged under
    `<checkpoint_dir>/_staging`, which is cleared here: a staging
    directory left by a crash holds no batch a restart still needs.
    Staged files are published by rename, so a `status_dir` or sink
    table on another file system than the checkpoint raises ValueError
    here."""
    from datawarehouse1_spark.operators.ingest import check_same_file_system, delete_path
    from datawarehouse1_spark.sources.excel import MARKER_COLS, xlsx_stream

    staging = f"{checkpoint_dir.rstrip('/')}/_staging"
    status_dir = status_dir or f"{checkpoint_dir.rstrip('/')}/file_status"
    check_same_file_system(spark, staging, status_dir, sink.table_path)
    delete_path(spark, staging)
    if fmt == "xlsx":
        # lineage columns are added inside the parse body
        stream = xlsx_stream(
            spark,
            watch_dir,
            schema,
            glob=glob if glob != LOCK_GLOB else "[!~]*.xlsx",
            business_key=sink.business_key,
        )
    else:
        stream = (
            spark.readStream.schema(schema)
            .format(fmt)
            .option("pathGlobFilter", glob)
            .option("maxFilesPerTrigger", 100)
            .load(watch_dir)
            # O5 enrichment (etl/app.py:158-159): the file's basename
            .withColumn("source_file", F.col("_metadata.file_name"))
            .withColumn("imported_at", F.current_timestamp())
            # no per-file markers: every row is a data row
            .select(
                "*",
                F.lit(None).cast("string").alias("parse_error"),
                *(F.lit(None).cast("long").alias(c) for c in MARKER_COLS),
            )
        )
    return (
        stream.writeStream.foreachBatch(_with_status_sink(sink, staging, status_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def _with_status_sink(
    inner: IngestSink,
    staging_root: str,
    status_dir: str,
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink over a stream with marker columns. One
    write stages the data rows (parse_error and marker columns dropped)
    under `staging_root` (operators.ingest.stage_batch), counting them
    and gathering the marker rows with observe(), so parsing, counting
    and staging are one Spark job. Failed files' markers become durable
    quarantine rows in `status_dir` (append-only parquet — one row per
    failed file: source_file, parse_error, imported_at, batch_id,
    status). `inner.commit` gets the staged rows, valid only during the
    call, with the staged batch, the markers and the names of the files
    its rows come from. The staging is
    deleted after the call, published or not. Published file names
    carry the query id and the batch id (operators.ingest.publish_staged)."""
    from pyspark.sql import Observation

    from datawarehouse1_spark.operators.ingest import (
        delete_path,
        publish_staged,
        stage_batch,
        staging_counts,
    )
    from datawarehouse1_spark.sources.excel import DUP_KEYS, FILE_ROWS, MARKER_COLS

    # Columns are built once, not per batch: each costs py4j calls
    is_data = F.col(FILE_ROWS).isNull()
    marker = F.struct("source_file", "parse_error", "imported_at", FILE_ROWS, DUP_KEYS)
    per_file = (
        F.collect_list(F.when(~is_data, marker)).alias("markers"),
        F.collect_set(F.when(is_data, F.col("source_file"))).alias("files"),
    )
    counts = staging_counts(inner.not_null_cols)

    def sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        stage = f"{staging_root}/batch-{batch_id}"
        # the id Spark stores in the checkpoint, set on the stream's thread
        query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        name = f"{query_id}-{batch_id:010d}"
        obs = Observation()
        rows = batch.observe(obs, *per_file).filter(is_data).drop("parse_error", *MARKER_COLS)
        try:
            staged_rows, staged = stage_batch(rows, f"{stage}/rows", name, counts)
            observed = obs.get
            markers = observed["markers"]
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
            inner.commit(staged_rows, staged, markers, observed["files"])
        finally:
            delete_path(spark, stage)

    return sink


class IngestSink:
    """The ingest table a stream commits into: validate-then-publish per
    micro-batch (the transaction-per-file analog) into the parquet table
    at `table_path`. Invalid batches are skipped whole — the streaming
    query keeps running (per-file try/except semantics,
    etl/app.py:271-275). The accept/reject decision is
    `operators.ingest.append_if_valid`, looked up at call time.

    A batch arrives staged (`commit`): it is checked before it is
    published, and publishing renames its staged files into the table
    under names taken from the query id and the batch id, so a batch
    replayed after a crash between the publish and the stream's commit
    log appends nothing twice, while a stream on a recreated checkpoint
    publishes its renumbered batches."""

    def __init__(self, table_path: str, business_key: str, not_null_cols: list[str]):
        self.table_path = table_path
        self.business_key = business_key
        self.not_null_cols = list(not_null_cols)

    def commit(
        self, rows: DataFrame, staged: Staged, markers: list[Row], files: list[str]
    ) -> None:
        """The staged data rows of a batch (`rows` reads `staged.path`)
        from the source `files`, plus one marker row per xlsx file
        (sources/excel.py). A batch without rows (every file failed to
        parse) is not a commit. The in-file duplicate-key count of the
        marker stands in for the batch's when exactly one parsed file
        holds rows; otherwise validate_batch counts keys over the staged
        rows."""
        from dataclasses import replace

        from datawarehouse1_spark.operators import ingest
        from datawarehouse1_spark.sources.excel import DUP_KEYS, FILE_ROWS

        if not staged.counts.n_rows:
            return
        parsed = [m for m in markers if m.parse_error is None and m[FILE_ROWS]]
        if len(parsed) == 1:
            staged = replace(staged, counts=replace(staged.counts, n_dup=parsed[0][DUP_KEYS]))
        ingest.append_if_valid(
            rows,
            self.table_path,
            self.business_key,
            self.not_null_cols,
            source_file=", ".join(sorted(files)),
            staged=staged,
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
