"""Laws of streaming/snapshot_store.py::snapshot_sink, the one
foreachBatch body every streaming maintainer runs, driven directly with
small frames and batch ids (no stream): the empty-batch skip, the strict
and the content (idempotent) replay guards of SCALE.md rule 24, the
version after a batch-id rebase, a fold that publishes nothing, and a
snapshot read that runs no Spark job."""

from __future__ import annotations

import os

import pytest

from datawarehouse1_spark.streaming.snapshot_store import (
    content_key,
    latest_version,
    publish_snapshot,
    read_snapshot,
    snapshot_sink,
)


class _Fold:
    """Records (version, replay) per call; returns old ∪ batch, or None
    while `publish` is False."""

    def __init__(self):
        self.calls = []
        self.publish = True

    def __call__(self, batch, old, version, replay):
        self.calls.append((version, replay))
        if not self.publish:
            return None
        return batch if old is None else old.unionByName(batch)


def _frame(spark, values):
    return spark.createDataFrame([(v,) for v in values], "v long")


def _values(spark, path):
    return sorted(r.v for r in read_snapshot(spark, path).collect())


@pytest.mark.parametrize("idempotent", [False, True])
def test_empty_batch_publishes_nothing(spark, tmp_path, idempotent):
    path = str(tmp_path / "snap")
    fold = _Fold()
    sink = snapshot_sink(spark, path, fold, idempotent=idempotent)
    sink(_frame(spark, []), 0)
    assert fold.calls == []
    assert latest_version(path) is None

    sink(_frame(spark, [1]), 0)
    sink(_frame(spark, []), 1)
    assert fold.calls == [(0, False)]
    assert latest_version(path) == 0
    assert _values(spark, path) == [1]


@pytest.mark.parametrize("idempotent", [False, True])
def test_new_batch_publishes_at_its_id(spark, tmp_path, idempotent):
    path = str(tmp_path / "snap")
    fold = _Fold()
    sink = snapshot_sink(spark, path, fold, idempotent=idempotent)
    sink(_frame(spark, [1]), 3)
    sink(_frame(spark, [2]), 4)
    assert fold.calls == [(3, False), (4, False)]
    assert latest_version(path) == 4
    assert _values(spark, path) == [1, 2]


def test_strict_replay_calls_no_fold(spark, tmp_path):
    path = str(tmp_path / "snap")
    fold = _Fold()
    sink = snapshot_sink(spark, path, fold)
    sink(_frame(spark, [1]), 2)
    sink(_frame(spark, [1]), 2)  # redelivery of the published batch
    sink(_frame(spark, [7]), 1)  # an older id
    assert fold.calls == [(2, False)]
    assert latest_version(path) == 2
    assert _values(spark, path) == [1]


def test_idempotent_replay_publishes_one_past_applied_only_with_a_frame(
    spark, tmp_path
):
    path = str(tmp_path / "snap")
    fold = _Fold()
    sink = snapshot_sink(spark, path, fold, idempotent=True)
    sink(_frame(spark, [1]), 2)

    fold.publish = False  # the content probe finds nothing new
    sink(_frame(spark, [1]), 2)
    assert fold.calls[-1] == (3, True)
    assert latest_version(path) == 2

    fold.publish = True  # the replayed batch carries new content
    sink(_frame(spark, [5]), 2)
    assert fold.calls[-1] == (3, True)
    assert latest_version(path) == 3
    assert _values(spark, path) == [1, 5]


@pytest.mark.parametrize("idempotent", [False, True])
def test_rebase_to_batch_zero(spark, tmp_path, idempotent):
    path = str(tmp_path / "snap")
    fold = _Fold()
    sink = snapshot_sink(spark, path, fold, idempotent=idempotent)
    sink(_frame(spark, [1]), 5)
    sink(_frame(spark, [9]), 0)  # checkpoint lost: numbering restarts
    if idempotent:
        assert fold.calls == [(5, False), (6, True)]
        assert latest_version(path) == 6
        assert _values(spark, path) == [1, 9]
    else:
        assert fold.calls == [(5, False)]
        assert latest_version(path) == 5
        assert _values(spark, path) == [1]


@pytest.mark.parametrize("idempotent", [False, True])
def test_none_from_fold_keeps_pointer_and_version(spark, tmp_path, idempotent):
    path = str(tmp_path / "snap")
    fold = _Fold()
    sink = snapshot_sink(spark, path, fold, idempotent=idempotent)
    sink(_frame(spark, [1]), 1)
    served = os.path.realpath(path)

    fold.publish = False
    sink(_frame(spark, [2]), 2)
    assert fold.calls == [(1, False), (2, False)]
    assert os.path.realpath(path) == served
    assert latest_version(path) == 1
    assert _values(spark, path) == [1]


def test_content_key_ignores_row_order(spark):
    def key(values):
        df = spark.createDataFrame([(v,) for v in values], "v string")
        return df.agg(content_key("v").alias("k")).collect()[0]["k"]

    assert key(["b", "a", "c"]) == key(["c", "b", "a"])
    assert key(["a", "b"]) != key(["a", "b", "c"])


def test_read_snapshot_runs_no_job(spark, tmp_path):
    """The snapshot's schema comes from its footer, so a sink's read of
    the published snapshot runs no schema-inference job."""
    path = str(tmp_path / "snap")
    publish_snapshot(_frame(spark, range(10)), path, 0)
    sc = spark.sparkContext
    group = f"read_snapshot-{tmp_path.name}"
    sc.setJobGroup(group, "read_snapshot")
    try:
        df = read_snapshot(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.schema == spark.read.parquet(path).schema
    assert _values(spark, path) == list(range(10))
