"""Batch ingest pipeline: the reference's E2 dataflow (etl/app.py:235-289)
as validate-then-publish over Spark tables.

Transaction-per-file semantics (etl/app.py:162,191,220: one to_sql per
file, constraint violation rolls back the whole file) cannot lean on
Parquet transactions — so the pipeline REJECTS BEFORE PUBLISH: a file's
batch reaches the table only if every constraint check passes; otherwise
the whole batch is rejected and recorded status=error. Never
write-then-clean: readers of the table never see unvalidated rows.

A batch reaches the table one way. `stage_batch` writes it to a staging
directory outside the table in one Spark job whose `observe()` counts
its rows and NOT NULL violations. `append_if_valid` decides from those
counts and publishes an accepted batch: its part files are renamed into
the table through the Hadoop FileSystem API, so publishing runs no Spark
job, and a rejected batch's staging is deleted without the table ever
listing it. Published part files are named after the batch
(`Staged.name`), which makes publishing idempotent: a batch replayed
after a crash between the publish and the stream's commit log finds its
files in place and adds nothing. The streaming caller
(streaming/file_ingest.py) puts the query id in the name: Spark keeps
it in the checkpoint, so it is new whenever the checkpoint is
recreated, and a stream whose batch numbering restarted at 0 after a
lost checkpoint publishes its batches instead of taking them for
replays.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass, field
from urllib.parse import urlsplit

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from datawarehouse1_spark.operators.warehouse import (
    duplicate_keys,
    fk_orphans,
    null_predicate,
    null_violations,
)


@dataclass
class IngestResult:
    table: str
    source_file: str
    status: str  # success | error
    n_rows: int = 0
    errors: list[str] = field(default_factory=list)


@dataclass(frozen=True)
class BatchCounts:
    """Constraint counts for a batch, observed while it was staged
    instead of counted by Spark jobs over it. `n_null` counts rows
    violating NOT NULL; `n_dup` counts business keys occurring more than
    once in the batch, the figures `null_violations(...).count()` and
    `duplicate_keys(...).count()` return. `n_dup` is None when nothing
    counted it on the way (validate_batch counts it then)."""

    n_rows: int
    n_null: int
    n_dup: int | None = None


@dataclass(frozen=True)
class Staged:
    """A batch written to `path`, a directory outside the table, with
    the constraint `counts` of its rows. `name` identifies the batch
    among every batch published into the table (publish_staged)."""

    path: str
    name: str
    counts: BatchCounts


def _hadoop(spark, path: str):
    """(Hadoop Path class, FileSystem of `path`) under the session's
    conf, resolved once per context and file system: every name looked
    up through `sc._jvm` is a py4j round trip on the stream's batch
    thread, and each commit publishes and deletes under the same roots."""
    loc = urlsplit(path)
    return _hadoop_at(spark.sparkContext, f"{loc.scheme}://{loc.netloc}/" if loc.scheme else "/")


@functools.lru_cache(maxsize=8)
def _hadoop_at(sc, root: str):
    Path = sc._jvm.org.apache.hadoop.fs.Path
    return Path, Path(root).getFileSystem(sc._jsc.hadoopConfiguration())


def delete_path(spark, path: str) -> None:
    """Remove `path` and everything below it, if it exists."""
    Path, fs = _hadoop(spark, path)
    fs.delete(Path(path), True)


def check_same_file_system(spark, staging: str, *targets: str) -> None:
    """Raise ValueError unless every target is on the file system of
    `staging`: publish_staged renames from one into the other, and a
    rename cannot cross file systems."""
    from pyspark.errors import IllegalArgumentException

    Path, fs = _hadoop(spark, staging)
    for target in targets:
        try:
            fs.makeQualified(Path(target))
        except IllegalArgumentException as e:  # Hadoop's "Wrong FS"
            raise ValueError(
                f"{target} is not on the file system of {staging} ({fs.getUri()}); "
                "a staged batch is published by rename, so both must share one"
            ) from e


def staging_counts(not_null_cols: list[str]) -> tuple[Column, Column]:
    """The metrics stage_batch observes: the row count and the rows
    violating NOT NULL on `not_null_cols`. A stream builds them once,
    not per batch: each Column is a few py4j round trips, and a stream
    rebuilding its metric Columns for every batch spent ~30 ms more per
    xlsx commit (4-core x86 box)."""
    return (
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(null_predicate(not_null_cols), 1)).alias("n_null"),
    )


def stage_batch(
    rows: DataFrame, path: str, name: str, metrics: tuple[Column, Column]
) -> tuple[DataFrame, Staged]:
    """Write `rows` to the staging directory `path` in one Spark job
    whose observe() computes `metrics` (staging_counts). Returns the
    staged rows, read back with their known schema (no inference job),
    and the `Staged` batch to hand to append_if_valid under `name`."""
    obs = Observation()
    rows.observe(obs, *metrics).write.mode("overwrite").parquet(path)
    observed = obs.get
    counts = BatchCounts(observed["n_rows"], observed["n_null"])
    staged = rows.sparkSession.read.schema(rows.schema).parquet(path)
    return staged, Staged(path, name, counts)


def publish_staged(spark, staged_path: str, name: str, table_path: str) -> None:
    """Rename the part files under `staged_path` into `table_path` as
    `part-<name>-<n>` (n in the staged files' name order, which is
    Spark's task order). A target name that already exists belongs to
    an earlier publish of the same batch and is left as it is. Each file
    appears in the table atomically (one rename); a batch of several
    part files appears file by file, as a Spark append's job commit
    also moves them."""
    Path, fs = _hadoop(spark, staged_path)
    table = Path(table_path)
    fs.mkdirs(table)
    # only the part files, not _SUCCESS nor the .crc sidecars; the
    # staging path itself is escaped so a glob character in it (a
    # checkpoint under "a[1]") matches literally instead of matching
    # nothing
    literal = re.sub(r"([\\\[\]{}*?])", r"\\\1", staged_path)
    paths = [st.getPath() for st in fs.globStatus(Path(literal, "part-*"))]
    staged = {p.getName(): p for p in paths}
    for i, part in enumerate(sorted(staged)):
        ext = part[part.index("."):] if "." in part else ""
        dst = Path(table, f"part-{name}-{i:05d}{ext}")
        if not fs.exists(dst) and not fs.rename(staged[part], dst):
            raise OSError(f"could not publish {staged_path}/{part} as {dst}")


def validate_batch(
    batch: DataFrame,
    business_key: str,
    not_null_cols: list[str],
    existing: DataFrame | None = None,
    fk_checks: list[tuple[DataFrame, str, str]] | None = None,
    counts: BatchCounts | None = None,
) -> list[str]:
    """All constraint checks the reference delegates to Postgres, computed
    in one pass where possible. Returns [] when the batch is appendable.
    With `counts`, the NOT NULL check (and the in-batch UNIQUE check,
    when `counts.n_dup` is set) reads those figures instead of running
    counting jobs."""
    errors: list[str] = []

    n_null = counts.n_null if counts else null_violations(batch, not_null_cols).count()
    n_dup = counts.n_dup if counts else None
    if n_dup is None:
        n_dup = duplicate_keys(batch, [business_key]).count()
    if n_null:
        errors.append(f"{n_null} rows violate NOT NULL on {not_null_cols}")

    if n_dup:
        errors.append(f"{n_dup} duplicate business keys within the batch")

    if existing is not None:
        n_clash = (
            batch.select(business_key)
            .join(existing.select(business_key), business_key, "left_semi")
            .count()
        )
        if n_clash:
            errors.append(
                f"{n_clash} business keys already present (UNIQUE violation)"
            )

    for dim, fact_key, dim_key in fk_checks or []:
        n_orphan = fk_orphans(batch, dim, fact_key, dim_key).count()
        if n_orphan:
            errors.append(f"{n_orphan} orphan {fact_key} values (FK violation)")

    return errors


def append_if_valid(
    batch: DataFrame,
    table_path: str,
    business_key: str,
    not_null_cols: list[str],
    source_file: str,
    staged: Staged,
    table_name: str = "",
    existing: DataFrame | None = None,
    fk_checks: list[tuple[DataFrame, str, str]] | None = None,
) -> IngestResult:
    """Fail-the-file atomicity: validate everything, then publish.

    `batch` reads the staged rows (stage_batch). The staged counts stand
    in for the NOT NULL / UNIQUE counting jobs and the row count; an
    accepted batch is published by renaming its staged files
    (publish_staged), a rejected one is left in staging for the caller
    to delete."""
    errors = validate_batch(
        batch, business_key, not_null_cols, existing, fk_checks, staged.counts
    )
    if errors:
        return IngestResult(table_name, source_file, "error", 0, errors)
    publish_staged(batch.sparkSession, staged.path, staged.name, table_path)
    return IngestResult(table_name, source_file, "success", staged.counts.n_rows, [])


def with_month_partition(df: DataFrame, ts_col: str, out: str = "month") -> DataFrame:
    """Derive the partition column for fact tables (yyyy-MM string keeps
    partition dirs readable and prunes on date_trunc-month predicates)."""
    return df.withColumn(out, F.date_format(F.col(ts_col), "yyyy-MM"))


def flag_violations(
    batch: DataFrame,
    business_key: str,
    not_null_cols: list[str],
    existing: DataFrame | None = None,
    fk_checks: list[tuple[DataFrame, str, str]] | None = None,
) -> DataFrame:
    """Row-level constraint evaluation: returns the batch with a
    `__reasons` array column listing every violated constraint per row
    (empty array = clean). One window + one broadcast join per check —
    no driver round-trips, order-independent.
    """
    from pyspark.sql import Window

    out = batch
    reasons = []

    for c in not_null_cols:
        reasons.append(F.when(F.col(c).isNull(), F.lit(f"null:{c}")))

    w = Window.partitionBy(business_key)
    out = out.withColumn("__key_count", F.count(F.lit(1)).over(w))
    reasons.append(F.when(F.col("__key_count") > 1, F.lit(f"dup_key:{business_key}")))

    helpers = ["__key_count"]

    if existing is not None:
        ex = existing.select(F.col(business_key).alias("__ex_key")).dropDuplicates()
        out = out.join(
            F.broadcast(ex), out[business_key] == F.col("__ex_key"), "left"
        )
        reasons.append(
            F.when(F.col("__ex_key").isNotNull(), F.lit(f"unique_clash:{business_key}"))
        )
        helpers.append("__ex_key")

    for i, (dim, fact_key, dim_key) in enumerate(fk_checks or []):
        dk = f"__dim_key_{i}"
        d = dim.select(F.col(dim_key).alias(dk)).dropDuplicates()
        out = out.join(F.broadcast(d), out[fact_key] == F.col(dk), "left")
        reasons.append(
            F.when(
                F.col(fact_key).isNotNull() & F.col(dk).isNull(),
                F.lit(f"fk_orphan:{fact_key}"),
            )
        )
        helpers.append(dk)

    return out.withColumn(
        "__reasons",
        F.filter(F.array(*reasons), lambda r: r.isNotNull()),
    ).drop(*helpers)


def ingest_with_quarantine(
    batch: DataFrame,
    table_path: str,
    quarantine_path: str,
    business_key: str,
    not_null_cols: list[str],
    source_file: str,
    table_name: str = "",
    existing: DataFrame | None = None,
    fk_checks: list[tuple[DataFrame, str, str]] | None = None,
) -> IngestResult:
    """Row-level variant of append_if_valid for pipeline scale: instead of
    rejecting a whole multi-TB batch for a handful of bad rows (the
    reference's per-file transaction, right for 6-row xlsx files), clean
    rows append and each bad row lands in a quarantine table with its
    violation reasons — the side-channel a 100 TB training-data pipeline
    audits and replays.

    Still write-once per sink: the valid/invalid split is one lazy plan
    evaluated into two writes, no write-then-clean."""
    flagged = flag_violations(batch, business_key, not_null_cols, existing, fk_checks)
    flagged = flagged.withColumn("__is_valid", F.size("__reasons") == 0).cache()
    try:
        valid = flagged.filter("__is_valid").drop("__reasons", "__is_valid")
        invalid = (
            flagged.filter(~F.col("__is_valid"))
            .withColumn("quarantine_reasons", F.col("__reasons"))
            .drop("__reasons", "__is_valid")
            .withColumn("source_file", F.lit(source_file))
        )
        n_valid = valid.count()
        n_invalid = invalid.count()
        if n_valid:
            valid.write.mode("append").parquet(table_path)
        if n_invalid:
            invalid.write.mode("append").parquet(quarantine_path)
        status = "success" if n_invalid == 0 else "partial"
        return IngestResult(
            table_name,
            source_file,
            status,
            n_valid,
            [f"{n_invalid} rows quarantined"] if n_invalid else [],
        )
    finally:
        flagged.unpersist()
