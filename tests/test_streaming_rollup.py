"""Streaming rollup maintenance: after N micro-batches the maintained
summary table equals a full recompute over everything ingested — exact
decimal equality, across stream restarts (checkpoint)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from datawarehouse1_spark.streaming.rollup_maintenance import make_rollup_sink

SCHEMA = StructType(
    [
        StructField("order_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("amount", DoubleType()),
    ]
)


def _agg(df):
    return df.groupBy(
        F.date_trunc("month", F.col("ts")).cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("amount").cast("decimal(18,2)")).alias("total"),
    )


def _feed(spark, src, rows):
    from datetime import datetime

    data = [(oid, datetime.fromisoformat(ts), amt) for oid, ts, amt in rows]
    spark.createDataFrame(data, SCHEMA).coalesce(1).write.mode("append").parquet(src)


def _start(spark, stream, rollup, ckpt):
    return (
        stream.writeStream.foreachBatch(
            make_rollup_sink(spark, rollup, _agg, ["month"], ["n_orders", "total"])
        )
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 seconds")
        .start()
    )


def test_streaming_rollup_matches_full_recompute(spark, tmp_path):
    src = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    batch1 = [("O1", "2025-01-05T10:00:00", 10.5), ("O2", "2025-01-20T11:00:00", 4.5)]
    batch2 = [("O3", "2025-01-25T09:00:00", 1.0), ("O4", "2025-02-03T08:00:00", 99.99)]
    _feed(spark, src, batch1)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = _start(spark, stream, rollup, ckpt)
    try:
        q.processAllAvailable()
        _feed(spark, src, batch2)
        q.processAllAvailable()
    finally:
        q.stop()

    maintained = {
        str(r.month): (r.n_orders, str(r.total))
        for r in spark.read.parquet(rollup).collect()
    }
    assert maintained == {
        "2025-01-01": (3, "16.00"),
        "2025-02-01": (1, "99.99"),
    }

    # restart from checkpoint: a third batch merges, earlier ones not re-read
    _feed(spark, src, [("O5", "2025-02-10T12:00:00", 0.01)])
    stream2 = spark.readStream.schema(SCHEMA).parquet(src)
    q2 = _start(spark, stream2, rollup, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    after = {
        str(r.month): (r.n_orders, str(r.total))
        for r in spark.read.parquet(rollup).collect()
    }
    assert after == {
        "2025-01-01": (3, "16.00"),
        "2025-02-01": (2, "100.00"),
    }

    # hygiene: staging dirs are deleted after each serving swap — a
    # long-running stream must not leak one per micro-batch
    residue = [p.name for p in tmp_path.iterdir() if "__staging_" in p.name]
    assert residue == [], f"leaked staging dirs: {residue}"


def test_rollup_sink_replay_does_not_double_count(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between checkpoint commit
    points replays the last batch. Adding a delta is NOT idempotent, so
    the sink's snapshot-version replay guard (the published version IS
    the producing batch id) must turn the replay into a no-op instead
    of double-counting."""
    from datawarehouse1_spark.streaming.rollup_maintenance import make_rollup_sink

    rollup = str(tmp_path / "rollup")
    sink = make_rollup_sink(spark, rollup, _agg, ["month"], ["n_orders", "total"])

    from datetime import datetime

    def batch(rows):
        data = [(oid, datetime.fromisoformat(ts), amt) for oid, ts, amt in rows]
        return spark.createDataFrame(data, SCHEMA)

    sink(batch([("O1", "2025-01-05T10:00:00", 10.5)]), 0)
    sink(batch([("O2", "2025-01-20T11:00:00", 4.5)]), 1)
    once = {
        str(r.month): (r.n_orders, str(r.total))
        for r in spark.read.parquet(rollup).collect()
    }
    assert once == {"2025-01-01": (2, "15.00")}

    # replay of the already-applied batch id: must be a no-op
    sink(batch([("O2", "2025-01-20T11:00:00", 4.5)]), 1)
    again = {
        str(r.month): (r.n_orders, str(r.total))
        for r in spark.read.parquet(rollup).collect()
    }
    assert again == once
