"""Crash-safety contract of streaming/snapshot_store.py.

The r6 ADVICE flagged the foreachBatch sinks' delete-then-overwrite
serving rewrite as non-atomic (a crash mid-rewrite left a partial or
empty snapshot that the replayed batch silently used as its base).
These tests pin the replacement protocol: every crash point a publish
can die at must leave `resolve()` serving a COMPLETE snapshot.
"""

from __future__ import annotations

import os

from datawarehouse1_spark.streaming.snapshot_store import (
    _version_dir,
    latest_version,
    publish_snapshot,
    read_snapshot,
    resolve,
)


def _rows(spark, path):
    return {(r.k, r.v) for r in spark.read.parquet(path).collect()}


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "k string, v long")


def test_publish_read_roundtrip_and_prune(spark, tmp_path):
    path = str(tmp_path / "snap")
    publish_snapshot(_df(spark, [("a", 1)]), path, version=0)
    publish_snapshot(_df(spark, [("a", 2), ("b", 3)]), path, version=1)

    assert os.path.islink(path)
    assert _rows(spark, path) == {("a", 2), ("b", 3)}
    assert latest_version(path) == 1
    # superseded version dirs are pruned — a long-running stream must
    # not leak one directory per micro-batch
    vdirs = [p.name for p in tmp_path.iterdir() if ".v" in p.name]
    assert vdirs == [os.path.basename(_version_dir(path, 1))]


def test_crash_mid_version_write_leaves_old_snapshot_serving(spark, tmp_path):
    """Crash point 1: died while writing the new version directory
    (no _SUCCESS marker). The pointer never moved; readers still get
    the old snapshot, and the torn directory is ignored."""
    path = str(tmp_path / "snap")
    publish_snapshot(_df(spark, [("a", 1)]), path, version=0)

    torn = _version_dir(path, 1)
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00partial")  # no _SUCCESS: incomplete by contract

    assert resolve(path) == os.path.realpath(path)
    assert _rows(spark, path) == {("a", 1)}
    assert latest_version(path) == 0  # torn dir must NOT act as a guard


def test_crash_after_write_before_swap_serves_old_then_replays(spark, tmp_path):
    """Crash point 2: version dir fully written (_SUCCESS present) but
    died before the pointer swap. The SWAP is the commit point: the
    orphan version must NOT be served (its batch never acknowledged to
    the streaming checkpoint, so Structured Streaming replays it), the
    guard must report the batch as un-applied, and the replayed publish
    must overwrite the orphan and land cleanly."""
    path = str(tmp_path / "snap")
    publish_snapshot(_df(spark, [("a", 1)]), path, version=0)
    # simulate: v1 written durably, pointer swap never happened
    _df(spark, [("a", 9)]).write.parquet(_version_dir(path, 1))

    assert resolve(path) == os.path.realpath(path)  # still v0
    assert latest_version(path) == 0  # guard lets the replay through
    assert _rows(spark, path) == {("a", 1)}

    # the replayed batch re-publishes version 1 over the orphan dir
    publish_snapshot(_df(spark, [("a", 9)]), path, version=1)
    assert latest_version(path) == 1
    assert _rows(spark, path) == {("a", 9)}


def test_dangling_pointer_recovers_from_version_scan(spark, tmp_path):
    """Crash point 3: pointer exists but its target vanished (e.g. died
    inside prune after a manual rollback). Fall back to the scan."""
    path = str(tmp_path / "snap")
    publish_snapshot(_df(spark, [("a", 1)]), path, version=0)
    publish_snapshot(_df(spark, [("a", 2)]), path, version=1)
    # break the pointer: point it at a dir that does not exist
    os.remove(path)
    os.symlink(os.path.basename(_version_dir(path, 7)), path)

    assert resolve(path) == _version_dir(path, 1)
    assert latest_version(path) == 1


def test_legacy_real_directory_layout_migrates_atomically(spark, tmp_path):
    """Pre-r7 sinks wrote a real directory at the serving path. First
    publish on top of one must serve it as the base beforehand, swap to
    the pointer layout, and leave no legacy residue after."""
    path = str(tmp_path / "snap")
    _df(spark, [("a", 1)]).write.parquet(path)  # legacy layout
    assert not os.path.islink(path)
    assert {(r.k, r.v) for r in read_snapshot(spark, path).collect()} == {("a", 1)}
    assert latest_version(path) is None  # legacy carries no version

    publish_snapshot(_df(spark, [("a", 2)]), path, version=3)
    assert os.path.islink(path)
    assert _rows(spark, path) == {("a", 2)}
    assert latest_version(path) == 3
    assert not os.path.exists(path + ".legacy")


def test_empty_store_resolves_none(spark, tmp_path):
    path = str(tmp_path / "never_published")
    assert resolve(path) is None
    assert latest_version(path) is None
    assert read_snapshot(spark, path) is None


def test_rollup_sink_crash_mid_publish_recovers(spark, tmp_path, monkeypatch):
    """End-to-end crash injection at the SINK level: the process dies
    after the new version directory is written but before the pointer
    swap. On restart the serving table must still read the pre-crash
    snapshot, and the replayed batch must fold in exactly once."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from datawarehouse1_spark.streaming import snapshot_store
    from datawarehouse1_spark.streaming.rollup_maintenance import make_rollup_sink

    rollup = str(tmp_path / "rollup")

    def agg(batch):
        return batch.groupBy("k").agg(
            F.sum(F.col("v").cast("decimal(18,2)")).alias("total")
        )

    sink = make_rollup_sink(spark, rollup, agg, ["k"], ["total"])

    def batch(rows):
        return spark.createDataFrame(rows, "k string, v long")

    sink(batch([("a", 10)]), 0)

    # crash point: publish writes the version dir, then dies pre-swap
    real_publish = snapshot_store.publish_snapshot

    def dying_publish(df, path, version):
        vdir = snapshot_store._version_dir(path, version)
        df.write.mode("overwrite").parquet(vdir)
        raise RuntimeError("simulated crash before pointer swap")

    monkeypatch.setattr(snapshot_store, "publish_snapshot", dying_publish)
    try:
        sink(batch([("a", 5), ("b", 7)]), 1)
    except RuntimeError:
        pass
    # pre-crash snapshot still serves; batch 1 not visible
    rows = {r.k: r.total for r in spark.read.parquet(rollup).collect()}
    assert rows == {"a": Decimal("10.00")}

    # restart: the streaming engine replays batch 1; it must fold in
    # exactly once through the repaired publish
    monkeypatch.setattr(snapshot_store, "publish_snapshot", real_publish)
    sink(batch([("a", 5), ("b", 7)]), 1)
    rows = {r.k: r.total for r in spark.read.parquet(rollup).collect()}
    assert rows == {"a": Decimal("15.00"), "b": Decimal("7.00")}

    # and a second replay is a no-op (version guard)
    sink(batch([("a", 5), ("b", 7)]), 1)
    rows = {r.k: r.total for r in spark.read.parquet(rollup).collect()}
    assert rows == {"a": Decimal("15.00"), "b": Decimal("7.00")}


def test_cdc_sink_crash_mid_publish_recovers(spark, tmp_path, monkeypatch):
    """Same crash injection for the CDC snapshot sink: version dir
    written, pointer swap never happened. Pre-crash snapshot serves;
    the replay folds the batch exactly once (history NOT lost — the
    r6 ADVICE failure mode this store exists to prevent)."""
    from pyspark.sql import functions as F  # noqa: F401

    from datawarehouse1_spark.streaming import snapshot_store
    from datawarehouse1_spark.streaming.cdc_apply import make_cdc_sink

    snap = str(tmp_path / "snap")
    sink = make_cdc_sink(spark, snap, keys=("k",))

    def batch(rows):
        return spark.createDataFrame(rows, "k int, v string, op string, seq int")

    sink(batch([(1, "a", "I", 1), (2, "b", "I", 2)]), 0)

    def dying_publish(df, path, version):
        df.write.mode("overwrite").parquet(
            snapshot_store._version_dir(path, version)
        )
        raise RuntimeError("simulated crash before pointer swap")

    real_publish = snapshot_store.publish_snapshot
    monkeypatch.setattr(snapshot_store, "publish_snapshot", dying_publish)
    try:
        sink(batch([(1, "a2", "U", 3), (2, None, "D", 4)]), 1)
    except RuntimeError:
        pass
    assert _rows(spark, snap) == {(1, "a"), (2, "b")}  # history intact

    monkeypatch.setattr(snapshot_store, "publish_snapshot", real_publish)
    sink(batch([(1, "a2", "U", 3), (2, None, "D", 4)]), 1)
    assert _rows(spark, snap) == {(1, "a2")}
    sink(batch([(1, "a2", "U", 3), (2, None, "D", 4)]), 1)  # replay: no-op
    assert _rows(spark, snap) == {(1, "a2")}
