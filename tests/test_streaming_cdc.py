"""Streaming CDC apply: after N micro-batches the maintained snapshot
equals a sequential replay of every change, across cold start,
cross-batch ordering, and sink-level redelivery (the foreachBatch
exactly-once contract rests on apply_cdc being idempotent per batch)."""

from __future__ import annotations

from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from datawarehouse1_spark.streaming.cdc_apply import make_cdc_sink

SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("v", StringType()),
        StructField("op", StringType()),
        StructField("seq", IntegerType()),
    ]
)


def _feed(spark, src, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)


def _snapshot(spark, path):
    return {(r.k, r.v) for r in spark.read.parquet(path).collect()}


def test_streaming_cdc_matches_sequential_replay(spark, tmp_path):
    src = str(tmp_path / "changes")
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")

    # batch 1 bootstraps from nothing (cold start: empty base)
    _feed(
        spark,
        src,
        [(1, "a", "I", 1), (2, "b", "I", 2), (3, "c", "I", 3)],
    )
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(make_cdc_sink(spark, snap, keys=("k",)))
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        assert _snapshot(spark, snap) == {(1, "a"), (2, "b"), (3, "c")}

        # batch 2: update 1, delete 2 after updating it (latest wins),
        # insert 4 — cross-batch ordering means these land on batch 1's
        # result, not on the raw inserts
        _feed(
            spark,
            src,
            [(1, "a2", "U", 1), (2, "b2", "U", 1), (2, None, "D", 2), (4, "d", "I", 1)],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    assert _snapshot(spark, snap) == {(1, "a2"), (3, "c"), (4, "d")}


def test_cdc_sink_redelivery_is_idempotent(spark, tmp_path):
    """Crash-replay: foreachBatch may re-run a batch after restart.
    Applying the SAME change batch twice must leave the snapshot
    byte-identical — updates converge, deletes no-op, inserts anti-join
    away their own prior copy."""
    snap = str(tmp_path / "snapshot")
    sink = make_cdc_sink(spark, snap, keys=("k",))

    boot = spark.createDataFrame(
        [(1, "a", "I", 1), (2, "b", "I", 1)], SCHEMA
    )
    sink(boot, 0)
    batch = spark.createDataFrame(
        [(1, "a2", "U", 1), (2, None, "D", 1), (5, "e", "I", 1)], SCHEMA
    )
    sink(batch, 1)
    first = _snapshot(spark, snap)
    sink(batch, 1)  # redelivery of the identical batch id + content
    assert _snapshot(spark, snap) == first == {(1, "a2"), (5, "e")}
