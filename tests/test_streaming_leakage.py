"""Streaming eval-contamination guard (streaming/leakage_guard.py):
arriving documents maintain a persisted train text-hash index; val and
test documents whose exact text already exists in train (history or
the same batch) land in a content-keyed flag log.

Covers: cross-batch contamination (history hit), same-batch
contamination (train twin arriving alongside the holdout doc), clean
holdout docs never flagged, replay idempotence (flags overwrite their
content-keyed dir; index version does not move), batch-id rebase with
new content still applying, the batching-invariance law (union of all
flag batches == the one-shot leakage verdicts over the full corpus),
and the end-to-end stream with checkpointed restart."""

from __future__ import annotations

import glob
import hashlib
import time

from datawarehouse1_spark.streaming import leakage_guard as lg
from datawarehouse1_spark.streaming.snapshot_store import (
    latest_version,
    read_snapshot,
)


def _py_split(doc_id: int) -> str:
    h = hashlib.md5(str(doc_id).encode()).hexdigest()[:8]
    if h < "e6666666":
        return "train"
    if h < "f3333333":
        return "val"
    return "test"


# deterministic id pools per split (same rule as the query/test twin)
TRAIN = [i for i in range(2000) if _py_split(i) == "train"]
VAL = [i for i in range(2000) if _py_split(i) == "val"]
TEST = [i for i in range(2000) if _py_split(i) == "test"]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _flags(spark, flags_path):
    dirs = glob.glob(f"{flags_path}/batch=*")
    if not dirs:
        return set()
    return {
        (r.doc_id, r.split)
        for r in spark.read.parquet(*dirs).collect()
    }


def test_leakage_guard_cross_and_same_batch(spark, tmp_path):
    index_path = str(tmp_path / "index")
    flags_path = str(tmp_path / "flags")
    sink = lg.make_leakage_sink(spark, index_path, flags_path)

    # batch 0: trains two texts; one clean val doc
    sink(
        _docs(
            spark,
            [
                (TRAIN[0], "alpha"),
                (TRAIN[1], "beta"),
                (VAL[0], "gamma"),  # clean: not in train
            ],
        ),
        0,
    )
    assert _flags(spark, flags_path) == set()
    idx = {r.th for r in read_snapshot(spark, index_path).collect()}
    assert len(idx) == 2

    # batch 1: val doc hits HISTORY train text; test doc hits a train
    # twin arriving in the SAME batch; another val doc stays clean
    sink(
        _docs(
            spark,
            [
                (VAL[1], "alpha"),        # cross-batch contamination
                (TRAIN[2], "delta"),
                (TEST[0], "delta"),       # same-batch contamination
                (VAL[2], "epsilon"),      # clean
            ],
        ),
        1,
    )
    assert _flags(spark, flags_path) == {
        (VAL[1], "val"),
        (TEST[0], "test"),
    }
    idx = {r.th for r in read_snapshot(spark, index_path).collect()}
    assert len(idx) == 3  # alpha, beta, delta
    assert latest_version(index_path) == 1


def test_leakage_guard_replay_and_rebase(spark, tmp_path):
    index_path = str(tmp_path / "index")
    flags_path = str(tmp_path / "flags")
    sink = lg.make_leakage_sink(spark, index_path, flags_path)

    b1 = [(TRAIN[0], "alpha"), (VAL[0], "alpha")]
    sink(_docs(spark, b1), 0)
    assert _flags(spark, flags_path) == {(VAL[0], "val")}
    dirs = sorted(glob.glob(f"{flags_path}/batch=*"))
    assert len(dirs) == 1
    assert latest_version(index_path) == 0

    # true replay: flags overwrite the same content-keyed dir, the
    # index version does not move
    sink(_docs(spark, b1), 0)
    assert sorted(glob.glob(f"{flags_path}/batch=*")) == dirs
    assert _flags(spark, flags_path) == {(VAL[0], "val")}
    assert latest_version(index_path) == 0

    # checkpoint lost; the restarted stream renumbers from 0 but the
    # batch carries NEW content — it must still apply, at a
    # monotonically advanced version
    sink(_docs(spark, [(TRAIN[1], "beta"), (TEST[0], "beta")]), 0)
    assert (TEST[0], "test") in _flags(spark, flags_path)
    assert latest_version(index_path) == 1
    idx = {r.th for r in read_snapshot(spark, index_path).collect()}
    assert len(idx) == 2


def test_leakage_guard_batching_invariance(spark, tmp_path):
    """Law: the union of all flag batches equals the one-shot leakage
    verdict computed over the full corpus at once (holdout docs whose
    text-hash appears among ALL train docs)."""
    corpus = [
        (TRAIN[0], "t0"),
        (TRAIN[1], "t1"),
        (TRAIN[2], "t2"),
        (VAL[0], "t1"),   # leaked (train text in a later batch's history)
        (VAL[1], "x0"),   # clean
        (TEST[0], "t2"),  # leaked
        (TEST[1], "x1"),  # clean
        (VAL[2], "t0"),   # leaked
    ]
    batches = [corpus[:3], corpus[3:6], corpus[6:]]
    index_path = str(tmp_path / "index")
    flags_path = str(tmp_path / "flags")
    sink = lg.make_leakage_sink(spark, index_path, flags_path)
    for i, b in enumerate(batches):
        sink(_docs(spark, b), i)

    train_texts = {t for i, t in corpus if _py_split(i) == "train"}
    want = {
        (i, _py_split(i))
        for i, t in corpus
        if _py_split(i) != "train" and t in train_texts
    }
    assert _flags(spark, flags_path) == want


def test_leakage_guard_stream_end_to_end_with_restart(spark, tmp_path):
    watch = tmp_path / "watch"
    watch.mkdir()
    index_path = str(tmp_path / "index")
    flags_path = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")

    def write(name, rows):
        _docs(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            str(watch / name)
        )

    write("d1.parquet", [(TRAIN[0], "alpha"), (VAL[0], "zeta")])

    def start():
        source = spark.readStream.schema("doc_id long, text string").parquet(
            str(watch) + "/*"
        )
        return (
            source.writeStream.foreachBatch(
                lg.make_leakage_sink(spark, index_path, flags_path)
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 seconds")
            .start()
        )

    q = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if latest_version(index_path) is not None:
                break
        assert _flags(spark, flags_path) == set()
    finally:
        q.stop()

    # second file arrives after a restart: val doc hits the persisted
    # train hash from before the restart
    write("d2.parquet", [(VAL[1], "alpha"), (TRAIN[1], "eta")])
    q = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if (VAL[1], "val") in _flags(spark, flags_path):
                break
        assert (VAL[1], "val") in _flags(spark, flags_path)
        idx = {r.th for r in read_snapshot(spark, index_path).collect()}
        assert len(idx) == 2
    finally:
        q.stop()
