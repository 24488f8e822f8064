"""Streaming 64-bit fingerprint index maintenance
(streaming/fingerprint_maintenance.py): per-batch incremental band
pairing + atomically-published (id, hi, lo) index.

Covers: bootstrap, cross-batch twin detection (the quadrant the
incremental path exists for), replay idempotence, duplicate-id
rejection, crash-between-effects recovery (pairs written, index
publish failed → replay converges to the clean-run state), and corpus
equivalence (union of all emitted pairs == full hash64_band_pairs run
over everything ingested). Assets are real 9x8 BMP bytes from the
dHash staging; decode happens inside the sink via image_dhash."""

from __future__ import annotations

import glob

import pytest

from datawarehouse1_spark.multimodal.binary_columns import (
    image_dhash,
    synthesize_dhash_assets,
)
from datawarehouse1_spark.operators.dedup import hash64_band_pairs
from datawarehouse1_spark.streaming import fingerprint_maintenance as fpm
from datawarehouse1_spark.streaming import snapshot_store
from datawarehouse1_spark.streaming.snapshot_store import (
    latest_version,
    read_snapshot,
)

FP = dict(id_col="asset_id", hi_col="dhash_hi", lo_col="dhash_lo", max_hamming=3)


def _assets(spark, doc_ids):
    docs = spark.createDataFrame([(i,) for i in doc_ids], "doc_id long")
    # materialize payloads so each "micro-batch" is a plain DataFrame
    rows = synthesize_dhash_assets(docs).collect()
    return spark.createDataFrame(rows, "asset_id long, payload binary")


def _pairs(spark, pairs_path):
    files = glob.glob(f"{pairs_path}/batch=*")
    if not files:
        return set()
    df = spark.read.parquet(*files)
    return {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b), r.hamming)
        for r in df.collect()
    }


def _full(spark, doc_ids):
    hashes = image_dhash(_assets(spark, doc_ids))
    return {
        (r.left_id, r.right_id, r.hamming)
        for r in hash64_band_pairs(
            hashes, "asset_id", "dhash_hi", "dhash_lo"
        ).collect()
    }


def test_fingerprint_sink_cross_batch_replay_and_equivalence(spark, tmp_path):
    index_path = str(tmp_path / "index")
    pairs_path = str(tmp_path / "pairs")
    sink = fpm.make_fingerprint_sink(
        spark, index_path, pairs_path, image_dhash, **FP
    )

    # batch 0: twin pair (10, 11) inside the batch + an unrelated base
    sink(_assets(spark, [10, 11, 20]), 0)
    assert latest_version(index_path) == 0
    p0 = {(a, b) for a, b, _ in _pairs(spark, pairs_path)}
    assert (10, 11) in p0

    # batch 1: the odd twin of HISTORY doc 20 arrives → cross-batch pair
    sink(_assets(spark, [21, 30]), 1)
    p1 = {(a, b) for a, b, _ in _pairs(spark, pairs_path)}
    assert (20, 21) in p1, "cross-batch twin missing"
    n_index = read_snapshot(spark, index_path).count()
    assert n_index == 5

    # replay of batch 1: strict no-op
    before = _pairs(spark, pairs_path)
    sink(_assets(spark, [21, 30]), 1)
    assert _pairs(spark, pairs_path) == before
    assert read_snapshot(spark, index_path).count() == n_index

    # corpus equivalence, end to end through the streaming sink
    assert _pairs(spark, pairs_path) == _full(spark, [10, 11, 20, 21, 30])


def test_fingerprint_sink_duplicate_id_raises(spark, tmp_path):
    index_path = str(tmp_path / "index")
    pairs_path = str(tmp_path / "pairs")
    sink = fpm.make_fingerprint_sink(
        spark, index_path, pairs_path, image_dhash, **FP
    )
    sink(_assets(spark, [10, 20]), 0)
    before = _pairs(spark, pairs_path)

    with pytest.raises(ValueError, match="globally unique"):
        sink(_assets(spark, [20]), 1)
    assert _pairs(spark, pairs_path) == before
    assert latest_version(index_path) == 0


def test_fingerprint_sink_crash_between_effects_recovers(
    spark, tmp_path, monkeypatch
):
    """Crash injection at the worst point: pairs for batch 1 are on
    disk but the index publish fails. The version guard must let the
    replay through (index is still at 0), the pair dir overwrite must
    be idempotent, and the final state must equal a clean run."""
    index_path = str(tmp_path / "index")
    pairs_path = str(tmp_path / "pairs")
    sink = fpm.make_fingerprint_sink(
        spark, index_path, pairs_path, image_dhash, **FP
    )
    sink(_assets(spark, [10, 11]), 0)

    real_publish = snapshot_store.publish_snapshot

    def boom(*a, **kw):
        raise RuntimeError("injected crash before index publish")

    monkeypatch.setattr(snapshot_store, "publish_snapshot", boom)
    with pytest.raises(RuntimeError, match="injected"):
        sink(_assets(spark, [12, 13]), 1)
    # pairs landed, index did not
    assert glob.glob(f"{pairs_path}/batch=1")
    assert latest_version(index_path) == 0

    monkeypatch.setattr(snapshot_store, "publish_snapshot", real_publish)
    sink(_assets(spark, [12, 13]), 1)  # at-least-once redelivery
    assert latest_version(index_path) == 1
    assert read_snapshot(spark, index_path).count() == 4
    assert _pairs(spark, pairs_path) == _full(spark, [10, 11, 12, 13])
