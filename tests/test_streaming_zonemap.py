"""Streaming zone-map maintainer (streaming/zonemap_maintenance.py):
per-file min/max/count statistics folded into an atomically-published
index as files land.

Covers: batch stats exactness, cross-batch per-file folding (a file
delivered across batches merges min/max and sums counts), the
batching-invariance law (index == one-shot recompute over all rows),
prune soundness (envelope-pruned files contain no matching rows),
replay idempotence (same batch id skips; same CONTENT under a higher
id also skips — the defense-in-depth shield), and the end-to-end
stream with checkpointed restart."""

from __future__ import annotations

import datetime
import time

from datawarehouse1_spark.streaming import zonemap_maintenance as zm
from datawarehouse1_spark.streaming.snapshot_store import (
    latest_version,
    read_snapshot,
)

_SCHEMA = "file_id string, o_orderkey long, o_orderdate timestamp_ntz"
_D = datetime.datetime


def _rows_df(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _index(spark, path):
    df = read_snapshot(spark, path)
    return {
        r.file_id: (
            r.n_rows,
            r.key_min,
            r.key_max,
            str(r.date_min),
            str(r.date_max),
        )
        for r in df.collect()
    }


R1 = [
    ("f1", 10, _D(1995, 1, 5)),
    ("f1", 20, _D(1995, 1, 9)),
    ("f2", 100, _D(1995, 2, 1)),
]
R2 = [
    ("f2", 90, _D(1995, 1, 20)),  # f2 spans two batches
    ("f3", 500, _D(1995, 3, 1)),
]


def test_zonemap_fold_and_batching_invariance(spark, tmp_path):
    path = str(tmp_path / "zm")
    sink = zm.make_zonemap_sink(spark, path)
    sink(_rows_df(spark, R1), 0)
    sink(_rows_df(spark, R2), 1)
    idx = _index(spark, path)
    assert idx["f1"] == (2, 10, 20, "1995-01-05", "1995-01-09")
    # f2 folded across batches: counts sum, envelopes merge
    assert idx["f2"] == (2, 90, 100, "1995-01-20", "1995-02-01")
    assert idx["f3"] == (1, 500, 500, "1995-03-01", "1995-03-01")
    # batching invariance: one-shot recompute over ALL rows agrees
    oneshot = zm.batch_zonemap(
        _rows_df(spark, R1 + R2), "o_orderkey", "o_orderdate"
    )
    want = {
        r.file_id: (
            r.n_rows, r.key_min, r.key_max, str(r.date_min), str(r.date_max)
        )
        for r in oneshot.collect()
    }
    assert idx == want


def test_zonemap_prune_soundness(spark, tmp_path):
    """Envelope-pruned files never contain a matching row (the planner
    skip list is sound by construction)."""
    path = str(tmp_path / "zm")
    sink = zm.make_zonemap_sink(spark, path)
    sink(_rows_df(spark, R1 + R2), 0)
    index = read_snapshot(spark, path)
    lo, hi = 95, 600
    pruned = {r.file_id for r in zm.prunable_files(index, lo, hi).collect()}
    assert pruned == {"f1"}
    matching_files = {
        f for (f, k, _) in R1 + R2 if lo <= k <= hi
    }
    assert not (pruned & matching_files)


def test_zonemap_replay_and_content_shield(spark, tmp_path):
    path = str(tmp_path / "zm")
    sink = zm.make_zonemap_sink(spark, path)
    sink(_rows_df(spark, R1), 0)
    before = _index(spark, path)
    v0 = latest_version(path)
    # same batch id: id-guard skips
    sink(_rows_df(spark, R1), 0)
    assert _index(spark, path) == before
    assert latest_version(path) == v0
    # same CONTENT under a higher id: the content shield skips too
    sink(_rows_df(spark, R1), 5)
    assert _index(spark, path) == before
    assert latest_version(path) == v0
    # same (file_id, n_rows) PROFILE but different key envelope is NEW
    # data and must apply (the review finding: a large file split
    # across equal-size micro-batches) — the shield keys on full stats
    r1_shifted = [
        ("f1", 30, _D(1995, 1, 12)),
        ("f1", 40, _D(1995, 1, 15)),
        ("f2", 110, _D(1995, 2, 3)),
    ]
    sink(_rows_df(spark, r1_shifted), 5)
    assert latest_version(path) == 5
    assert _index(spark, path)["f1"] == (
        4, 10, 40, "1995-01-05", "1995-01-15"
    )
    # genuinely new content applies at its id
    sink(_rows_df(spark, R2), 6)
    assert latest_version(path) == 6
    assert _index(spark, path)["f3"][0] == 1


def test_zonemap_shield_distinguishes_stats_identical_batches(
    spark, tmp_path
):
    """ADVICE r10: two legitimately distinct successive batches can be
    STATS-identical (duplicate-keyed rows: same envelope, same count)
    yet carry different row content — the shield must apply the second,
    not drop it as a redelivery. The row-level multiset digest folded
    into the content key makes them distinguishable."""
    path = str(tmp_path / "zm")
    sink = zm.make_zonemap_sink(spark, path)
    b1 = [
        ("f1", 10, _D(1995, 1, 5)),
        ("f1", 10, _D(1995, 1, 9)),
    ]
    sink(_rows_df(spark, b1), 0)
    assert _index(spark, path)["f1"][0] == 2
    # byte-identical content under a higher id: redelivery — skipped
    sink(_rows_df(spark, b1), 1)
    assert _index(spark, path)["f1"][0] == 2
    # stats-identical but content-distinct: same count, same key
    # envelope (10..10), same date endpoints — only an INTERIOR date
    # differs between b3 and its twin
    b3 = [
        ("f1", 10, _D(1995, 1, 5)),
        ("f1", 10, _D(1995, 1, 9)),
        ("f1", 10, _D(1995, 1, 7)),
    ]
    b3_twin = [
        ("f1", 10, _D(1995, 1, 5)),
        ("f1", 10, _D(1995, 1, 9)),
        ("f1", 10, _D(1995, 1, 8)),
    ]
    sink(_rows_df(spark, b3), 2)
    assert _index(spark, path)["f1"][0] == 5
    # b3_twin: identical stats (count 3, key 10..10, dates 01-05..01-09)
    # but a different interior row — MUST apply
    sink(_rows_df(spark, b3_twin), 3)
    assert _index(spark, path)["f1"][0] == 8, (
        "stats-identical distinct batch was dropped by the shield"
    )


def test_zonemap_digest_second_moment_separates_sum_collisions(spark):
    """ADVICE r11: the linear hash-sum digest alone is not
    collision-resistant — two distinct row multisets whose per-row hash
    sums coincide would be misclassified as a redelivery. A genuine
    xxhash64 sum collision is unconstructable in a test (2^32-pair
    birthday search), so inject a crafted hash column through
    _digest_aggs' test seam: multisets {1, 5} and {2, 4} collide
    linearly (sum 6) but differ in the second moment (26 vs 20) — the
    strengthened combiner must separate them."""
    from pyspark.sql import functions as F

    def digest(hashes):
        batch = spark.createDataFrame(
            [("f1", h) for h in hashes], "file_id string, h long"
        )
        row = batch.groupBy("file_id").agg(
            *zm._digest_aggs(batch, hash_col=F.col("h"))
        ).first()
        return int(row.row_digest), int(row.row_digest_sq)

    d1, sq1 = digest([1, 5])
    d2, sq2 = digest([2, 4])
    assert d1 == d2 == 6
    assert sq1 != sq2, (
        "second-moment digest failed to separate a linear-sum collision"
    )
    assert (sq1, sq2) == (26, 20)
    # negative hashes project through pmod, not truncation: the square
    # term stays exact and order-independent
    d3, sq3 = digest([-3, 9])
    d4, sq4 = digest([9, -3])
    assert (d3, sq3) == (d4, sq4) == (6, sq3)


def test_zonemap_non_integer_key_type(spark, tmp_path):
    """ADVICE r10: key_col is a parameter, so the content key must
    serialize non-integer clustering keys (string, date) — int() raised
    on every sink invocation for a string key despite batch_zonemap /
    merge_zonemaps / prunable_files being type-agnostic."""
    path = str(tmp_path / "zm")
    schema = "file_id string, sku string, o_orderdate timestamp_ntz"
    rows = [
        ("f1", "ab-10", _D(1995, 1, 5)),
        ("f1", "zz-99", _D(1995, 1, 9)),
    ]
    sink = zm.make_zonemap_sink(
        spark, path, key_col="sku", date_col="o_orderdate"
    )
    sink(spark.createDataFrame(rows, schema), 0)
    idx = _index(spark, path)
    assert idx["f1"] == (2, "ab-10", "zz-99", "1995-01-05", "1995-01-09")
    # replay shield still works for string keys
    sink(spark.createDataFrame(rows, schema), 1)
    assert _index(spark, path)["f1"][0] == 2


def test_zonemap_stream_end_to_end_with_restart(spark, tmp_path):
    watch = tmp_path / "watch"
    watch.mkdir()
    path = str(tmp_path / "zm")
    ckpt = str(tmp_path / "ckpt")

    def write(name, rows):
        _rows_df(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            str(watch / name)
        )

    write("b1.parquet", R1)

    def start():
        source = spark.readStream.schema(_SCHEMA).parquet(str(watch) + "/*")
        return (
            source.writeStream.foreachBatch(zm.make_zonemap_sink(spark, path))
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 seconds")
            .start()
        )

    q = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if latest_version(path) is not None:
                break
        assert _index(spark, path)["f1"][0] == 2
    finally:
        q.stop()

    write("b2.parquet", R2)
    q = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            idx = _index(spark, path)
            if "f3" in idx:
                break
        idx = _index(spark, path)
        # f2's envelope now spans both deliveries across the restart
        assert idx["f2"] == (2, 90, 100, "1995-01-20", "1995-02-01")
        assert idx["f3"][0] == 1
    finally:
        q.stop()
