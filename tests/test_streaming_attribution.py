"""Streaming last-touch attribution maintainer
(streaming/attribution_maintenance.py): arriving events maintain a
per-user last-touch state; purchases are credited against
state-union-batch with the exact batch-query window and land in a
content-keyed attribution log.

Covers: cross-batch credit (touch in batch 0, purchase in batch 1),
same-batch resolution with (ts, event_id) tie-breaks, 'unattributed'
purchases, replay idempotence (log overwrites its content-keyed dir;
state version does not move), the batching-invariance law (union of
all attribution batches aggregated per touch type == the one-shot
q_events_attribution_last_touch over the full corpus, for an
arbitrary split of the ordered feed), and the end-to-end stream with
checkpointed restart."""

from __future__ import annotations

import datetime
import glob
import time

from datawarehouse1_spark import registry
from datawarehouse1_spark.streaming import attribution_maintenance as am
from datawarehouse1_spark.streaming.snapshot_store import (
    latest_version,
    read_snapshot,
)

registry.load_all()

_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string,"
    " value double"
)

T0 = datetime.datetime(2026, 8, 1, 12, 0, 0)


def _ts(sec):
    return T0 + datetime.timedelta(seconds=sec)


def _events(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _log(spark, log_path):
    # consumer contract: only dirs with a _SUCCESS marker are
    # published credits (a crash mid-write leaves a partial dir)
    import os

    dirs = [
        d
        for d in glob.glob(f"{log_path}/batch=*")
        if os.path.exists(os.path.join(d, "_SUCCESS"))
    ]
    if not dirs:
        return []
    return spark.read.parquet(*dirs).collect()


def test_attribution_cross_batch_and_ties(spark, tmp_path):
    state_path = str(tmp_path / "state")
    log_path = str(tmp_path / "log")
    sink = am.make_attribution_sink(spark, state_path, log_path)

    # batch 0: user 1 views then clicks; user 2 purchases untouched
    sink(
        _events(
            spark,
            [
                (1, _ts(0), 1, "view", 1.0),
                (2, _ts(1), 1, "click", 1.0),
                (3, _ts(1), 2, "purchase", 4.0),
            ],
        ),
        0,
    )
    log = {r.purchase_id: r for r in _log(spark, log_path)}
    assert log[3].touch_type == "unattributed" and log[3].value_e6 == 4_000_000
    st = {r.user_id: r for r in read_snapshot(spark, state_path).collect()}
    assert st[1].touch_type == "click" and st[1].event_id == 2
    assert 2 not in st  # purchases never become touches

    # batch 1: user 1 purchases (credits the PERSISTED click), then a
    # view and a SAME-TS purchase whose event_id orders after the view
    sink(
        _events(
            spark,
            [
                (4, _ts(2), 1, "purchase", 1.5),
                (5, _ts(3), 1, "view", 1.0),
                (6, _ts(3), 1, "purchase", 2.25),
            ],
        ),
        1,
    )
    log = {r.purchase_id: r for r in _log(spark, log_path)}
    assert log[4].touch_type == "click"  # cross-batch state credit
    assert log[6].touch_type == "view"  # same-ts, id tie-break
    st = {r.user_id: r for r in read_snapshot(spark, state_path).collect()}
    assert st[1].touch_type == "view" and st[1].event_id == 5


def test_attribution_replay_is_idempotent(spark, tmp_path):
    state_path = str(tmp_path / "state")
    log_path = str(tmp_path / "log")
    sink = am.make_attribution_sink(spark, state_path, log_path)

    batch = [
        (1, _ts(0), 1, "click", 1.0),
        (2, _ts(1), 1, "purchase", 3.0),
    ]
    sink(_events(spark, batch), 0)
    v0 = latest_version(state_path)
    log0 = sorted((r.purchase_id, r.touch_type) for r in _log(spark, log_path))

    # checkpoint replay redelivers the SAME batch under the same id:
    # the attributed-purchase index filters every credit, so the
    # aggregated log is unchanged and no version moves
    sink(_events(spark, batch), 0)
    assert latest_version(state_path) == v0  # content guard: no bump
    assert (
        sorted((r.purchase_id, r.touch_type) for r in _log(spark, log_path))
        == log0
    )

    # a REBASED batch (id 0 again) with genuinely new touches still
    # applies, at a monotonically advanced version
    sink(_events(spark, [(3, _ts(2), 1, "view", 1.0)]), 0)
    assert latest_version(state_path) == v0 + 1
    st = {r.user_id: r for r in read_snapshot(spark, state_path).collect()}
    assert st[1].touch_type == "view"


def test_attribution_rebase_with_different_boundaries_never_double_credits(
    spark, tmp_path
):
    """The purchase-granular guard: after a checkpoint loss the feed
    is replayed with DIFFERENT micro-batch boundaries (and rebased
    batch ids). Already-attributed purchases drop out of the rewrite
    entirely — the aggregated log is unchanged, and the credits keep
    their ORIGINAL touch types even though the replayed state no
    longer holds the early touches."""
    rows = [
        (1, _ts(0), 1, "click", 1.0),
        (2, _ts(1), 1, "purchase", 3.0),  # credits 'click'
        (3, _ts(2), 1, "view", 1.0),
        (4, _ts(3), 1, "purchase", 5.0),  # credits 'view'
    ]
    state_path = str(tmp_path / "state")
    log_path = str(tmp_path / "log")
    sink = am.make_attribution_sink(spark, state_path, log_path)
    # original run: boundaries [0,1] | [2,3]
    sink(_events(spark, rows[:2]), 0)
    sink(_events(spark, rows[2:]), 1)
    want = sorted(
        (r.purchase_id, r.touch_type, r.value_e6)
        for r in _log(spark, log_path)
    )
    assert [w[1] for w in want] == ["click", "view"]

    # checkpoint lost: full replay under DIFFERENT boundaries
    # ([0] | [1,2] | [3]) and rebased ids
    sink(_events(spark, rows[:1]), 0)
    sink(_events(spark, rows[1:3]), 1)
    sink(_events(spark, rows[3:]), 2)
    got = sorted(
        (r.purchase_id, r.touch_type, r.value_e6)
        for r in _log(spark, log_path)
    )
    assert got == want  # no double credit, no re-credit drift


def test_attribution_batching_invariance_vs_one_shot(spark, tmp_path):
    """Splitting the ordered sf0.001 events feed into arbitrary
    prefix-respecting batches and aggregating the union of the logs
    must equal the one-shot batch query over the same corpus."""
    from datawarehouse1_spark.catalog import table

    sf = "/root/testdata/sf0.001"
    ev = (
        table(spark, sf, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    cuts = [0, len(rows) // 5, len(rows) // 2, (4 * len(rows)) // 5, len(rows)]
    state_path = str(tmp_path / "state")
    log_path = str(tmp_path / "log")
    sink = am.make_attribution_sink(spark, state_path, log_path)
    for k in range(len(cuts) - 1):
        chunk = [tuple(r) for r in rows[cuts[k] : cuts[k + 1]]]
        sink(_events(spark, chunk), k)

    got = {}
    for r in _log(spark, log_path):
        n, v = got.get(r.touch_type, (0, 0))
        got[r.touch_type] = (n + 1, v + r.value_e6)
    want = {
        r.touch_type: (r.n_purchases, r.value_e6)
        for r in registry.QUERIES["q_events_attribution_last_touch"](
            spark, sf
        ).collect()
    }
    assert got == want


def test_attribution_stream_end_to_end_with_restart(spark, tmp_path):
    watch = tmp_path / "watch"
    watch.mkdir()
    state_path = str(tmp_path / "state")
    log_path = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")

    def write(name, rows):
        _events(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            str(watch / name)
        )

    write("e1.parquet", [(1, _ts(0), 1, "click", 1.0)])

    def start():
        source = spark.readStream.schema(_SCHEMA).parquet(str(watch) + "/*")
        return (
            source.writeStream.foreachBatch(
                am.make_attribution_sink(spark, state_path, log_path)
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
            if latest_version(state_path) is not None:
                break
        assert latest_version(state_path) is not None
    finally:
        q.stop()

    # the purchase arrives after a restart: credited from the
    # persisted pre-restart state
    write("e2.parquet", [(2, _ts(5), 1, "purchase", 7.0)])
    q = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if any(r.purchase_id == 2 for r in _log(spark, log_path)):
                break
        log = {r.purchase_id: r for r in _log(spark, log_path)}
        assert log[2].touch_type == "click"
        assert log[2].value_e6 == 7_000_000
    finally:
        q.stop()


def test_attribution_survives_a_partial_crashed_log_dir(spark, tmp_path):
    """Crash-recovery law: a dir left by a crash mid-write (no
    _SUCCESS marker, garbage content) must neither fail the dedup
    read nor suppress the redelivered credit — the sink re-attributes
    the purchase into a durable dir."""
    import os

    state_path = str(tmp_path / "state")
    log_path = str(tmp_path / "log")
    # simulate the crash artifact BEFORE any successful batch
    partial = tmp_path / "log" / "batch=deadbeefdeadbeef"
    partial.mkdir(parents=True)
    (partial / "part-00000.parquet").write_bytes(b"not a parquet file")
    assert not os.path.exists(partial / "_SUCCESS")

    sink = am.make_attribution_sink(spark, state_path, log_path)
    sink(
        _events(
            spark,
            [
                (1, _ts(0), 1, "click", 1.0),
                (2, _ts(1), 1, "purchase", 3.0),
            ],
        ),
        0,
    )
    log = {r.purchase_id: r for r in _log(spark, log_path)}
    assert log[2].touch_type == "click" and log[2].value_e6 == 3_000_000
    # and a replay still dedups against the durable dir
    sink(
        _events(
            spark,
            [
                (1, _ts(0), 1, "click", 1.0),
                (2, _ts(1), 1, "purchase", 3.0),
            ],
        ),
        0,
    )
    assert [r.purchase_id for r in _log(spark, log_path)] == [2]
