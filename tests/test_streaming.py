"""Structured Streaming ingest: the reference's polling loop semantics —
only-new-files processing (file_metadata analog), lock-file skip,
validate-then-write per micro-batch — via the file source + foreachBatch."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from datawarehouse1_spark.streaming.file_ingest import (
    IngestSink,
    stream_ingest,
    stream_sessionize,
    stream_tumbling_counts,
)

SCHEMA = StructType(
    [StructField("produit_id", StringType()), StructField("nom", StringType())]
)


def _write_parquet(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(path)


def _wait(query, predicate, timeout=60):
    deadline = time.time() + timeout
    while time.time() < deadline:
        query.processAllAvailable()
        if predicate():
            return True
        time.sleep(0.5)
    return False


def test_stream_ingest_end_to_end(spark, tmp_path):
    watch = tmp_path / "watch"
    watch.mkdir()
    sink_path = str(tmp_path / "warehouse_produits")
    ckpt = str(tmp_path / "ckpt")

    _write_parquet(spark, str(watch / "produits_1.parquet"), [("P1", "USB"), ("P2", "HDMI")])

    q = stream_ingest(
        spark,
        str(watch) + "/*",
        SCHEMA,
        IngestSink(sink_path, "produit_id", ["produit_id", "nom"]),
        ckpt,
        trigger_seconds=1,
    )
    try:
        import os

        ok = _wait(q, lambda: os.path.exists(sink_path) and spark.read.parquet(sink_path).count() == 2)
        assert ok, "first micro-batch not ingested"

        # second file arrives later -> only it is processed (checkpoint
        # replaces file_metadata change detection)
        _write_parquet(spark, str(watch / "produits_2.parquet"), [("P3", "CABLE")])
        ok = _wait(q, lambda: spark.read.parquet(sink_path).count() == 3)
        assert ok, "incremental file not picked up"

        got = {r.produit_id for r in spark.read.parquet(sink_path).collect()}
        assert got == {"P1", "P2", "P3"}
        cols = set(spark.read.parquet(sink_path).columns)
        assert {"source_file", "imported_at"} <= cols  # O5 enrichment
    finally:
        q.stop()


def test_stream_invalid_batch_skipped_stream_survives(spark, tmp_path):
    watch = tmp_path / "watch2"
    watch.mkdir()
    sink_path = str(tmp_path / "wh2")
    ckpt = str(tmp_path / "ckpt2")

    # duplicate business key inside one file -> batch rejected whole
    _write_parquet(spark, str(watch / "produits_bad.parquet"), [("P1", "USB"), ("P1", "USB-C")])

    q = stream_ingest(
        spark,
        str(watch) + "/*",
        SCHEMA,
        IngestSink(sink_path, "produit_id", ["produit_id", "nom"]),
        ckpt,
        trigger_seconds=1,
    )
    try:
        q.processAllAvailable()
        import os

        assert not os.path.exists(sink_path)  # nothing written

        # stream still alive: a good file afterwards ingests fine
        _write_parquet(spark, str(watch / "produits_good.parquet"), [("P9", "OK")])
        ok = _wait(q, lambda: os.path.exists(sink_path) and spark.read.parquet(sink_path).count() == 1)
        assert ok
    finally:
        q.stop()


def test_streaming_tumbling_and_session_plans_start(spark, tmp_path):
    """The C19/C20 streaming forms must run as real streaming queries
    (rate source -> memory sink) with watermarks accepted."""
    events = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 5).alias("user_id"),
            F.lit("click").alias("event_type"),
        )
    )
    q1 = (
        stream_tumbling_counts(events, window="1 minute", watermark="10 seconds")
        .writeStream.format("memory").queryName("tumbling_out")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "c1")).start()
    )
    q2 = (
        stream_sessionize(events, gap="30 seconds", watermark="10 seconds")
        .writeStream.format("memory").queryName("session_out")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "c2")).start()
    )
    try:
        # processAllAvailable() can chase a rate source forever when the
        # batches run slower than it generates rows; wait for each
        # query's first progress report instead, up to a deadline
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and (
            q1.lastProgress is None or q2.lastProgress is None
        ):
            time.sleep(0.5)
        assert q1.isActive and q2.isActive
        assert q1.lastProgress is not None
        assert q2.lastProgress is not None
    finally:
        q1.stop()
        q2.stop()


def test_multimodal_plumbing(spark):
    from datawarehouse1_spark.catalog import table
    from datawarehouse1_spark.multimodal.binary_columns import (
        extract_features,
        synthesize_assets_from_documents,
    )

    docs = table(spark, "/root/testdata/sf0.001", "documents").limit(30)
    assets = synthesize_assets_from_documents(docs)
    feats = extract_features(assets).collect()
    assert len(feats) == 30
    assert all(len(r.feature) == 16 for r in feats)
    assert all(r.sha256 and r.n_bytes > 0 for r in feats)
    # determinism: same payload -> same stub feature
    again = extract_features(assets).collect()
    assert {r.asset_id: r.feature for r in feats} == {r.asset_id: r.feature for r in again}


def test_multimodal_features_feed_ann(spark):
    """Composition: stub-decoded multimodal features are real array<float>
    vectors — they flow straight into the ANN operators (the multimodal ->
    embedding -> similarity pipeline shape)."""
    from datawarehouse1_spark.catalog import table
    from datawarehouse1_spark.multimodal.binary_columns import (
        extract_features,
        synthesize_assets_from_documents,
    )
    from datawarehouse1_spark.operators.similarity import ivf_topk

    docs = table(spark, "/root/testdata/sf0.001", "documents").limit(60)
    feats = extract_features(synthesize_assets_from_documents(docs)).select(
        F.col("asset_id").alias("vec_id"), F.col("feature").alias("embedding")
    )
    queries = feats.limit(4)
    out = ivf_topk(feats, queries, k=3, n_centroids=4, nprobe=2).collect()
    assert out and all(r.query_id != r.neighbor_id for r in out)
    assert all(r.rnk <= 3 for r in out)


def test_stream_static_dim_enrichment(spark, tmp_path):
    """Stream-static join: the standard streaming warehouse enrichment —
    an event stream joined to a static dimension table (no state, the
    dim broadcasts into every micro-batch)."""
    dim = spark.createDataFrame(
        [(0, "free"), (1, "pro"), (2, "enterprise")], "user_id long, tier string"
    )
    events = (
        spark.readStream.format("rate").option("rowsPerSecond", "100").load()
        .select((F.col("value") % 3).alias("user_id"), "timestamp")
    )
    q = (
        events.join(dim, "user_id")
        .writeStream.format("memory").queryName("enriched_out")
        .option("checkpointLocation", str(tmp_path / "ck_enrich"))
        .start()
    )
    try:
        # NOTE: no processAllAvailable — on a rate source it can block
        # forever (new data keeps arriving); poll the sink instead.
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline and not rows:
            rows = spark.sql("SELECT * FROM enriched_out").collect()
            time.sleep(0.5)
        assert rows, "no enriched rows produced"
        assert {r.tier for r in rows} <= {"free", "pro", "enterprise"}
        assert all(r.tier is not None for r in rows)
    finally:
        q.stop()


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Watermarked stream-stream inner join (views ⋈ purchases per user
    within an event-time interval) — state on both sides is bounded by
    the watermarks, the construction that survives an unbounded run."""
    base = (
        spark.readStream.format("rate").option("rowsPerSecond", "100").load()
        .select((F.col("value") % 5).alias("user_id"), F.col("timestamp").alias("ts"))
    )
    views = base.withColumnRenamed("ts", "view_ts").withWatermark("view_ts", "10 seconds")
    buys = (
        spark.readStream.format("rate").option("rowsPerSecond", "100").load()
        .select((F.col("value") % 5).alias("user_id"), F.col("timestamp").alias("buy_ts"))
        .withWatermark("buy_ts", "10 seconds")
    )
    joined = views.join(
        buys,
        (views.user_id == buys.user_id)
        & (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr("INTERVAL 5 SECONDS")),
    )
    q = (
        joined.writeStream.format("memory").queryName("ss_join_out")
        .option("checkpointLocation", str(tmp_path / "ck_ssj"))
        .start()
    )
    try:
        # poll, never processAllAvailable (rate sources feed forever)
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline and not rows:
            rows = spark.sql("SELECT * FROM ss_join_out").collect()
            time.sleep(0.5)
        assert rows, "stream-stream join produced no rows"
        from datetime import timedelta

        for r in rows[:50]:
            assert r.view_ts <= r.buy_ts <= r.view_ts + timedelta(seconds=5)
    finally:
        q.stop()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Redelivered events (same event_id, within the watermark) must be
    emitted exactly once across micro-batches; state is watermark-bounded
    so this is the scale-safe built-in dedup path."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datawarehouse1_spark.catalog import events_stream_source
    from datawarehouse1_spark.streaming.file_ingest import (
        stream_dedup_within_watermark,
    )

    src = tmp_path / "dedup_src"
    src.mkdir()

    def write_file(path, ids):
        # plain single parquet FILES (the streaming file source does not
        # recurse into Spark's directory-style output), ts as naive
        # timestamp[us] — today's events encoding
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(list(ids), pa.int64()),
                    "ts": pa.array(
                        [datetime(2024, 1, 1, 0, i % 60) for i in ids],
                        pa.timestamp("us"),
                    ),
                    "user_id": pa.array([i % 5 for i in ids], pa.int64()),
                    "event_type": pa.array(["view"] * len(ids)),
                    "value": pa.array([1.0] * len(ids)),
                    "props": pa.array(["{}"] * len(ids)),
                }
            ),
            path,
        )

    # batch 1: ids 0-9; batch 2 redelivers 5-9 and adds 10-14
    ids = list(range(10))
    write_file(src / "f1.parquet", ids)

    deduped = stream_dedup_within_watermark(
        events_stream_source(spark, str(src), maxFilesPerTrigger=1)
        .select("event_id", "ts", "user_id"),
        key_cols=("event_id",),
        watermark="1 hour",
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_file(src / "f2.parquet", list(range(5, 15)))
        q.processAllAvailable()
        got = spark.sql("SELECT event_id FROM dedup_wm").collect()
    finally:
        q.stop()

    ids = sorted(r.event_id for r in got)
    assert ids == list(range(15)), f"dedup failed: {ids}"


# ---------- streaming media ingest (binaryFile source + real decode) ----------


def test_streaming_media_decode_exactly_once(spark, tmp_path):
    """Real media files land in a watch dir; the binaryFile stream
    decodes them with the SAME codecs as the batch tier, exactly once
    per file across restarts, corrupt uploads fail soft."""
    import numpy as np

    from datawarehouse1_spark.multimodal.codecs import encode_png, stdlib_decode
    from datawarehouse1_spark.multimodal.jpeg import encode_jpeg
    from datawarehouse1_spark.streaming.media_ingest import run_media_ingest

    watch = tmp_path / "media"
    watch.mkdir()
    ckpt = str(tmp_path / "ckpt")
    rng = np.random.default_rng(1)
    img1 = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    img2 = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    (watch / "a.png").write_bytes(encode_png(img1))
    (watch / "b.jpg").write_bytes(encode_jpeg(img2, 90))
    (watch / "broken.png").write_bytes(b"\x89PNG\r\n\x1a\n" + b"junk")

    out_dir = str(tmp_path / "out")
    q = run_media_ingest(spark, str(watch), ckpt, out_dir)
    q.awaitTermination(60)
    rows = {r.path.rsplit("/", 1)[-1]: r for r in spark.read.parquet(out_dir).collect()}
    assert set(rows) == {"a.png", "b.jpg", "broken.png"}
    np.testing.assert_allclose(
        np.array(rows["a.png"].feature),
        stdlib_decode((watch / "a.png").read_bytes()),
        rtol=1e-6,
    )
    assert rows["b.jpg"].mime == "image/jpeg" and rows["b.jpg"].error is None
    assert rows["broken.png"].feature is None
    assert rows["broken.png"].error is not None  # quarantined, not fatal

    # restart with a NEW file: only the new file is processed
    img3 = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
    (watch / "c.png").write_bytes(encode_png(img3))
    q2 = run_media_ingest(spark, str(watch), ckpt, out_dir)
    q2.awaitTermination(60)
    after = sorted(r.path.rsplit("/", 1)[-1] for r in spark.read.parquet(out_dir).collect())
    # exactly once: the original three are NOT re-decoded on restart
    assert after == ["a.png", "b.jpg", "broken.png", "c.png"]
