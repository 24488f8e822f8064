"""The reference's FULL Excel ingest lifecycle as ONE composed
certification test (VERDICT r11 #5): drop file → poll → validate →
coerce → enrich → append/upsert → file-metadata upsert → re-drop with
newer mtime → exactly-once re-ingest, including the `~$` lock-file skip
— on the reference's real data/excel/*.xlsx bytes, every seam live
(etl/app.py:249-289 loop, :36-89 metadata, :92-141 locked-file retry →
Spark task retries, init-db/init.sql:11-17 file_metadata).

The pieces each have their own tests (test_xlsx_real, test_streaming,
test_ingest_pipeline); this file composes them so a break in ANY seam —
parser, schema coercion, status quarantine, routing, validation, the
keep-latest upsert, the snapshot store, checkpointed exactly-once —
fails here. Writing it immediately caught one: parsed pandas dtypes
were never coerced to the declared warehouse schema, so clients.xlsx's
numeric telephone hit a StringType field, threw ArrowTypeError OUTSIDE
the per-file try (at batch serialization), and killed the stream
(fixed: sources/excel.py::_coerce_to_fields).

Re-drop mapping: the reference's poller re-processes a same-named file
when its mtime exceeds last_processed (etl/app.py:36-53). Spark's
checkpointed file source tracks PATHS, so a re-upload lands as a new
path (landing-zone convention: files are immutable; a re-delivery is a
new drop) — `source_file` is the BASENAME, so the file_metadata upsert
hits the reference's UPDATE branch and row-level exactly-once comes
from the keep-latest upsert, not from hoping the append never repeats.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from datawarehouse1_spark.operators.ingest import validate_batch
from datawarehouse1_spark.operators.warehouse import upsert_small_table
from datawarehouse1_spark.schemas import CLIENTS, NOT_NULL
from datawarehouse1_spark.sources.excel import route_table
from datawarehouse1_spark.streaming.file_ingest import IngestSink, stream_ingest
from datawarehouse1_spark.streaming.snapshot_store import (
    latest_version,
    read_snapshot,
    publish_snapshot,
)

REF_XLSX = Path("/root/reference/data/excel")

pytestmark = pytest.mark.skipif(
    not REF_XLSX.exists(), reason="reference xlsx fixtures not present"
)


def _make_lifecycle_sink(spark, dim_store: str, meta_store: str):
    """The composed foreachBatch body: per delivered file (the
    reference's transaction-per-file), route by name → validate the
    warehouse constraints → keep-latest upsert into the dim snapshot →
    upsert the file_metadata row keyed by BASENAME. Parse/coercion
    failures never reach here — stream_ingest's status wrapper already
    quarantined them."""

    def sink(batch, batch_id: int) -> None:
        if batch.isEmpty():
            return
        batch.persist()
        try:
            # bounded collect: one row per file in this micro-batch
            files = sorted(
                r.source_file
                for r in batch.select("source_file").distinct().collect()
            )
            dim = read_snapshot(spark, dim_store)
            meta = read_snapshot(spark, meta_store)
            for fname in files:
                assert route_table(fname) == "clients"
                fb = batch.filter(F.col("source_file") == fname)
                errors = validate_batch(
                    fb, "client_id", NOT_NULL["clients"], existing=None
                )
                status = "error" if errors else "success"
                if not errors:
                    dim = (
                        fb
                        if dim is None
                        else upsert_small_table(
                            dim, fb, ["client_id"], ["imported_at"]
                        )
                    )
                meta_new = fb.agg(
                    F.lit(fname).alias("filename"),
                    F.max("imported_at").alias("last_processed"),
                    F.lit(status).alias("status"),
                    F.count(F.lit(1)).alias("n_rows"),
                )
                meta = (
                    meta_new
                    if meta is None
                    else upsert_small_table(
                        meta, meta_new, ["filename"], ["last_processed"]
                    )
                )
            if dim is not None:
                publish_snapshot(dim, dim_store, version=batch_id)
            if meta is not None:
                publish_snapshot(meta, meta_store, version=batch_id)
        finally:
            batch.unpersist()

    return sink


class _LifecycleSink(IngestSink):
    """stream_ingest commits into an IngestSink; this one's commit runs
    the composed lifecycle body instead of the table append."""

    def __init__(self, spark, dim_store: str, meta_store: str):
        super().__init__(dim_store, "client_id", NOT_NULL["clients"])
        self.body = _make_lifecycle_sink(spark, dim_store, meta_store)

    def commit(self, rows, staged, markers, files) -> None:
        # the staged batch is named `<query id>-<batch id>`
        self.body(rows, int(staged.name.rsplit("-", 1)[1]))


def test_reference_excel_lifecycle_certification(spark, tmp_path):
    watch = tmp_path / "landing"
    watch.mkdir()
    dim_store = str(tmp_path / "warehouse_clients")
    meta_store = str(tmp_path / "file_metadata")
    ckpt = str(tmp_path / "ckpt")
    status_dir = f"{ckpt}/file_status"

    # ---- drop 1: the real clients.xlsx AND its real `~$` lock file ----
    shutil.copyfile(REF_XLSX / "clients.xlsx", watch / "clients.xlsx")
    shutil.copyfile(REF_XLSX / "~$clients.xlsx", watch / "~$clients.xlsx")

    sink = _LifecycleSink(spark, dim_store, meta_store)
    q = stream_ingest(
        spark,
        str(watch) + "/*",  # glob: re-drops land in subdirectories
        CLIENTS,
        sink,
        ckpt,
        fmt="xlsx",
        trigger_seconds=1,
    )
    try:
        q.processAllAvailable()

        dim = read_snapshot(spark, dim_store).collect()
        # poll + parse + coerce + enrich + append, lock file skipped
        assert sorted(r.client_id for r in dim) == ["CLI001", "CLI002", "CLI003"]
        assert all(r.source_file == "clients.xlsx" for r in dim)
        assert all(r.imported_at is not None for r in dim)  # O16 default ts
        # O6 coercion: Excel stores telephone numerically; warehouse
        # declares VARCHAR — must render Excel-style, no trailing ".0"
        assert {r.telephone for r in dim} == {"612345678", "723456789"}
        # xml:space='preserve' significant whitespace survives the trip
        assert any(r.adresse.startswith(" ") for r in dim)

        meta = {r.filename: r for r in read_snapshot(spark, meta_store).collect()}
        assert set(meta) == {"clients.xlsx"}  # ~$ file left no trace
        assert meta["clients.xlsx"].status == "success"
        assert meta["clients.xlsx"].n_rows == 3
        first_processed = meta["clients.xlsx"].last_processed
        v1 = latest_version(meta_store)

        # ---- drop 2: a bad upload (ventes bytes under a client-routed
        # name: parses, but lacks every clients column) must quarantine
        # as a durable status row, not wedge the stream ----
        drop2 = watch / "drop2"
        drop2.mkdir()
        shutil.copyfile(REF_XLSX / "ventes.xlsx", drop2 / "clients_bad.xlsx")
        q.processAllAvailable()
        assert q.isActive
        errs = spark.read.parquet(status_dir).collect()
        assert len(errs) == 1 and errs[0].source_file == "clients_bad.xlsx"
        assert "missing required columns" in errs[0].parse_error
        assert errs[0].status == "error"
        # warehouse and metadata untouched by the failed file
        assert read_snapshot(spark, dim_store).count() == 3
        assert read_snapshot(spark, meta_store).count() == 1

        # ---- drop 3: re-drop clients.xlsx (newer mtime, new landing
        # path, SAME basename) → exactly-once re-ingest: rows replaced
        # via keep-latest, never appended twice; metadata row UPDATED
        # in place (the reference's UPDATE branch, etl/app.py:75-86) ----
        drop3 = watch / "drop3"
        drop3.mkdir()
        shutil.copyfile(REF_XLSX / "clients.xlsx", drop3 / "clients.xlsx")
        q.processAllAvailable()

        dim2 = read_snapshot(spark, dim_store).collect()
        assert sorted(r.client_id for r in dim2) == ["CLI001", "CLI002", "CLI003"]
        meta2 = {
            r.filename: r for r in read_snapshot(spark, meta_store).collect()
        }
        assert set(meta2) == {"clients.xlsx"}  # updated, not duplicated
        assert meta2["clients.xlsx"].last_processed >= first_processed
        v2 = latest_version(meta_store)
        assert v2 > v1
    finally:
        q.stop()

    # ---- restart from the same checkpoint: nothing reprocessed ----
    imported = {
        r.client_id: r.imported_at
        for r in read_snapshot(spark, dim_store).collect()
    }
    q2 = stream_ingest(
        spark,
        str(watch) + "/*",
        CLIENTS,
        _LifecycleSink(spark, dim_store, meta_store),
        ckpt,
        fmt="xlsx",
        trigger_seconds=1,
    )
    try:
        q2.processAllAvailable()
        assert latest_version(meta_store) == v2  # no re-publish
        after = {
            r.client_id: r.imported_at
            for r in read_snapshot(spark, dim_store).collect()
        }
        assert after == imported  # exactly-once across restart
    finally:
        q2.stop()
