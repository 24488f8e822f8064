"""Streaming takedown enforcement (streaming/takedown_maintenance.py):
tombstone batches remove documents from an atomically-republished
corpus snapshot with a per-batch audit trail.

Covers: bootstrap from the initial corpus, cumulative cross-batch
removal, re-delivered / never-present tombstones as counted no-ops
(NOT errors — takedown feeds redeliver by design), replay idempotence,
crash-between-effects recovery, the batching-invariance law
(batch-by-batch == one anti join of the full tombstone set), and the
end-to-end stream with checkpointed restart."""

from __future__ import annotations

import glob
import time

import pytest

from datawarehouse1_spark.streaming import snapshot_store
from datawarehouse1_spark.streaming import takedown_maintenance as tdm
from datawarehouse1_spark.streaming.snapshot_store import (
    latest_version,
    read_snapshot,
)


def _corpus(spark, n=40):
    return spark.createDataFrame(
        [(i, f"doc {i}", f"src{i % 3}") for i in range(n)],
        "doc_id long, text string, source string",
    )


def _tombstones(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _audit(spark, audit_path):
    files = glob.glob(f"{audit_path}/batch=*")
    if not files:
        return {}
    return {
        r.batch_id: (r.n_tombstones, r.n_removed, r.n_remaining)
        for r in spark.read.parquet(*files).collect()
    }


def test_takedown_sink_cumulative_and_noop_redelivery(spark, tmp_path):
    corpus_path = str(tmp_path / "corpus")
    audit_path = str(tmp_path / "audit")
    sink = tdm.make_takedown_sink(
        spark, corpus_path, audit_path, _corpus(spark)
    )

    sink(_tombstones(spark, [3, 7]), 0)
    assert latest_version(corpus_path) == 0
    snap = read_snapshot(spark, corpus_path)
    assert snap.count() == 38
    assert snap.filter("doc_id in (3, 7)").count() == 0
    assert _audit(spark, audit_path)[0] == (2, 2, 38)

    # batch 1: one new removal + one REDELIVERED id + one never-present
    # id — counted no-ops, not errors (takedown feeds redeliver)
    sink(_tombstones(spark, [7, 11, 999]), 1)
    snap = read_snapshot(spark, corpus_path)
    assert snap.count() == 37
    assert snap.filter("doc_id = 11").count() == 0
    assert _audit(spark, audit_path)[1] == (3, 1, 37)

    # replay of batch 1: corpus + versioned audit untouched, but the
    # skip path leaves a DURABLE no-op proof row (ADVICE r9) keyed by
    # the tombstone content hash — batch_id = -1, n_removed = 0
    before = _audit(spark, audit_path)
    sink(_tombstones(spark, [7, 11, 999]), 1)
    after = _audit(spark, audit_path)
    assert after[-1] == (3, 0, 37)
    assert {k: v for k, v in after.items() if k != -1} == before
    assert read_snapshot(spark, corpus_path).count() == 37
    assert latest_version(corpus_path) == 1

    # replaying the SAME request again is byte-idempotent: the proof
    # row overwrites its own content-hash dir, nothing accumulates
    noop_dirs = glob.glob(f"{audit_path}/batch=noop-*")
    assert len(noop_dirs) == 1
    sink(_tombstones(spark, [7, 11, 999]), 1)
    assert _audit(spark, audit_path) == after
    assert glob.glob(f"{audit_path}/batch=noop-*") == noop_dirs


def test_takedown_batching_invariance(spark, tmp_path):
    """Law: applying the feed batch-by-batch equals ONE anti join of
    the full tombstone set against the original corpus."""
    corpus_path = str(tmp_path / "corpus")
    audit_path = str(tmp_path / "audit")
    sink = tdm.make_takedown_sink(
        spark, corpus_path, audit_path, _corpus(spark)
    )
    batches = [[1, 2], [2, 30], [5, 6, 7], [999]]
    for i, ids in enumerate(batches):
        sink(_tombstones(spark, ids), i)

    got = {r.doc_id for r in read_snapshot(spark, corpus_path).collect()}
    all_ids = {i for b in batches for i in b}
    want = {
        r.doc_id
        for r in _corpus(spark)
        .join(
            _tombstones(spark, sorted(all_ids)), "doc_id", "left_anti"
        )
        .collect()
    }
    assert got == want


def test_takedown_crash_between_effects_recovers(spark, tmp_path, monkeypatch):
    """Crash injection at the worst point: the audit row for batch 1 is
    on disk but the corpus publish fails. The version guard must let
    the replay through, the audit overwrite must be idempotent, and the
    final state must equal a clean run."""
    corpus_path = str(tmp_path / "corpus")
    audit_path = str(tmp_path / "audit")
    sink = tdm.make_takedown_sink(
        spark, corpus_path, audit_path, _corpus(spark)
    )
    sink(_tombstones(spark, [0]), 0)

    real_publish = snapshot_store.publish_snapshot

    def boom(*a, **kw):
        raise RuntimeError("injected crash before corpus publish")

    monkeypatch.setattr(snapshot_store, "publish_snapshot", boom)
    with pytest.raises(RuntimeError, match="injected"):
        sink(_tombstones(spark, [1, 2]), 1)
    assert glob.glob(f"{audit_path}/batch=1")
    assert latest_version(corpus_path) == 0
    # the SERVED corpus is still the complete pre-crash snapshot
    assert read_snapshot(spark, corpus_path).count() == 39

    monkeypatch.setattr(snapshot_store, "publish_snapshot", real_publish)
    sink(_tombstones(spark, [1, 2]), 1)  # at-least-once redelivery
    assert latest_version(corpus_path) == 1
    snap = read_snapshot(spark, corpus_path)
    assert snap.count() == 37
    assert _audit(spark, audit_path)[1] == (2, 2, 37)


def test_takedown_stream_end_to_end_with_restart(spark, tmp_path):
    """File-source tombstone stream; restart from checkpoint neither
    loses nor duplicates removals."""
    watch = tmp_path / "watch"
    watch.mkdir()
    corpus_path = str(tmp_path / "corpus")
    audit_path = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")

    def write(name, ids):
        _tombstones(spark, ids).coalesce(1).write.mode("overwrite").parquet(
            str(watch / name)
        )

    write("t1.parquet", [4, 8])

    def start():
        source = spark.readStream.schema("doc_id long").parquet(
            str(watch) + "/*"
        )
        sink = tdm.make_takedown_sink(
            spark, corpus_path, audit_path, _corpus(spark)
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
            if latest_version(corpus_path) is not None:
                break
        assert read_snapshot(spark, corpus_path).count() == 38
    finally:
        q.stop()

    write("t2.parquet", [8, 15])  # 8 redelivered, 15 new
    q = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if read_snapshot(spark, corpus_path).count() == 37:
                break
        snap = read_snapshot(spark, corpus_path)
        assert snap.count() == 37
        assert snap.filter("doc_id in (4, 8, 15)").count() == 0
    finally:
        q.stop()


def test_takedown_survives_batch_id_rebase(spark, tmp_path):
    """r9 code-review finding: after a checkpoint loss the restarted
    stream re-numbers batches from 0. An id-based replay guard would
    silently drop every takedown until batch_id outruns the published
    version; the content-based guard must still APPLY rebased batches
    that remove documents (publishing at a monotonically advanced
    version), while a true replay stays a no-op."""
    corpus_path = str(tmp_path / "corpus")
    audit_path = str(tmp_path / "audit")
    sink = tdm.make_takedown_sink(
        spark, corpus_path, audit_path, _corpus(spark)
    )
    # original run reaches batch 5
    sink(_tombstones(spark, [1]), 5)
    assert latest_version(corpus_path) == 5
    assert read_snapshot(spark, corpus_path).count() == 39

    # checkpoint lost; restarted stream delivers NEW tombstones as batch 0
    sink(_tombstones(spark, [2, 3]), 0)
    snap = read_snapshot(spark, corpus_path)
    assert snap.count() == 37, "rebased batch with real takedowns was dropped"
    assert snap.filter("doc_id in (2, 3)").count() == 0
    assert latest_version(corpus_path) == 6  # monotonic: applied+1
    assert _audit(spark, audit_path)[6] == (2, 2, 37)

    # true replay of the rebased batch: corpus + versioned audit
    # untouched; the skip path records its no-op proof row (ADVICE r9)
    before = _audit(spark, audit_path)
    sink(_tombstones(spark, [2, 3]), 0)
    after = _audit(spark, audit_path)
    assert after[-1] == (2, 0, 37)
    assert {k: v for k, v in after.items() if k != -1} == before
    assert latest_version(corpus_path) == 6
