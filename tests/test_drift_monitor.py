"""Streaming drift monitor (streaming/drift_monitor.py): per-batch
rational chi-square vs a blessed reference profile, one log row per
batch with exactly-once semantics, and numeric agreement with the
batch-query statistic."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from datawarehouse1_spark.streaming.drift_monitor import (
    chisq_vs_reference,
    make_drift_sink,
    reference_profile,
)
from datawarehouse1_spark.streaming.snapshot_store import read_snapshot


def _ref(spark):
    # blessed profile: bins a..d with 100 each
    rows = [(b, i) for b in "abcd" for i in range(100)]
    df = spark.createDataFrame(rows, ["bin_val", "i"])
    return reference_profile(df, F.col("bin_val"))


def test_chisq_zero_for_proportional_batch(spark):
    ref = _ref(spark)
    batch = spark.createDataFrame(
        [(b,) for b in "abcd" for _ in range(25)], ["bin"]
    ).groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("cnt_batch"))
    per_bin = chisq_vs_reference(batch, ref)
    total = per_bin.agg(F.sum("chisq_e6")).collect()[0][0]
    assert total == 0  # proportional distributions: D = 0 in every bin


def test_chisq_flags_skew_and_missing_bins(spark):
    ref = _ref(spark)
    # batch heavily skewed to 'a', bin 'd' absent, novel bin 'z'
    batch = spark.createDataFrame(
        [("a",)] * 90 + [("b",)] * 5 + [("c",)] * 5 + [("z",)] * 10, ["bin"]
    ).groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("cnt_batch"))
    per_bin = chisq_vs_reference(batch, ref).collect()
    by_bin = {r["bin"]: r for r in per_bin}
    assert set(by_bin) == {"a", "b", "c", "d", "z"}
    assert by_bin["d"]["cnt_batch"] == 0 and by_bin["d"]["cnt_ref"] == 100
    assert by_bin["z"]["cnt_ref"] == 0 and by_bin["z"]["chisq_e6"] > 0
    total = sum(r["chisq_e6"] for r in per_bin)
    assert total > 500_000  # way over any sane threshold


def test_chisq_null_bin_matches_null_bin(spark):
    """ADVICE r8 (medium): a NULL bin in the batch must pair with the
    NULL bin of the reference (null-safe join), not split into two
    disjoint absent-as-zero rows. A batch exactly proportional to a
    reference that CONTAINS a NULL bin must still score 0."""
    rows = [(b, 0) for b in ["a", "b", None] for _ in range(100)]
    ref = reference_profile(
        spark.createDataFrame(rows, "bin_val string, i long"), F.col("bin_val")
    )
    batch = (
        spark.createDataFrame(
            [(b,) for b in ["a", "b", None] for _ in range(25)],
            "bin string",
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt_batch"))
    )
    per_bin = chisq_vs_reference(batch, ref).collect()
    assert len(per_bin) == 3  # NULL bin is ONE row, not two
    by_bin = {r["bin"]: r for r in per_bin}
    assert by_bin[None]["cnt_batch"] == 25 and by_bin[None]["cnt_ref"] == 100
    assert sum(r["chisq_e6"] for r in per_bin) == 0


def test_sink_appends_one_row_and_replay_is_skipped(spark, tmp_path):
    ref = _ref(spark)
    report_path = str(tmp_path / "drift_log")
    sink = make_drift_sink(
        spark, ref, report_path, lambda df: F.col("bin_val"), 500_000
    )
    calm = spark.createDataFrame(
        [(b, 0) for b in "abcd" for _ in range(50)], ["bin_val", "i"]
    )
    skewed = spark.createDataFrame(
        [("a", 0)] * 200 + [("b", 0)] * 2, ["bin_val", "i"]
    )
    sink(calm, 0)
    sink(skewed, 1)
    sink(skewed, 1)  # checkpoint replay — must NOT append a second row
    log = read_snapshot(spark, report_path).orderBy("batch_id").collect()
    assert [r["batch_id"] for r in log] == [0, 1]
    assert log[0]["alerted"] is False and log[0]["chisq_total_e6"] == 0
    assert log[1]["alerted"] is True
    assert log[1]["worst_bin"] == "a"
    assert log[1]["n_rows"] == 202


def test_stream_end_to_end_with_restart(spark, tmp_path):
    """File-source stream: batch rows land, a drift row per micro-batch
    appears; restart from checkpoint neither loses nor duplicates."""
    ref = _ref(spark)
    watch = tmp_path / "watch"
    watch.mkdir()
    report_path = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")

    def write(name, rows):
        spark.createDataFrame(rows, ["bin_val", "i"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(watch / name))

    write("b1.parquet", [(b, 0) for b in "abcd" for _ in range(10)])

    src_schema = "bin_val string, i long"

    def start():
        source = spark.readStream.schema(src_schema).parquet(str(watch) + "/*")
        sink = make_drift_sink(
            spark, ref, report_path, lambda df: F.col("bin_val"), 500_000
        )
        return (
            source.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 seconds")
            .start()
        )

    q = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            snap = read_snapshot(spark, report_path)
            if snap is not None and snap.count() >= 1:
                break
        snap = read_snapshot(spark, report_path)
        assert snap is not None and snap.count() == 1
    finally:
        q.stop()

    # restart; a new skewed file arrives
    write("b2.parquet", [("a", 0)] * 150)
    q = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if read_snapshot(spark, report_path).count() >= 2:
                break
        log = read_snapshot(spark, report_path).orderBy("batch_id").collect()
        assert len(log) == 2
        assert log[0]["alerted"] is False
        assert log[1]["alerted"] is True and log[1]["worst_bin"] == "a"
    finally:
        q.stop()
