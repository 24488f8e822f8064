"""Continuously-maintained last-touch attribution: the streaming face
of q_events_attribution_last_touch (queries/events.py).

Events arrive as a STREAM ordered by event time per user (the same
ordered-feed contract the SCD2/CDC maintainers assume — a replayable
log is delivered in (ts, event_id) order). The maintainer keeps:

  * the persisted per-user LAST-TOUCH state — for every user, the
    most recent non-purchase event (user_id, touch_type, ts,
    event_id), republished atomically through snapshot_store — and
  * an append-only ATTRIBUTION log: one row per purchase, crediting
    the last touch at or before it (state from prior batches ∪
    touches in the same batch), 'unattributed' when no touch exists;
    purchase values recorded as exact floor(v*1e6) micro-units.

Per micro-batch the sink

  1. projects the batch narrowly (localCheckpoint — one pass),
  2. unions the prior state rows (as synthetic touch events with
     their ORIGINAL (ts, event_id)) with the batch and runs the exact
     batch-query window — a running last-non-null over a ROWS frame
     ordered by (ts, event_id) — so cross-batch and same-batch
     touches resolve identically to the one-shot query,
  3. writes the batch's attributions to a CONTENT-KEYED
     overwrite-idempotent dir, then folds the state: per user the
     max-(ts, event_id) touch among (state ∪ batch touches).

Steady state at 100 TB: per batch the work is one user-partitioned
window over (batch ∪ |users-in-batch| state rows — the state side
prunes to the batch's users via a semi join, so the corpus of past
EVENTS is never re-read) plus one purchase_id anti-join against the
attribution log so far. That dedup read scales with purchases ever
attributed (a narrow one-column scan) — the price of exactly-once at
credit granularity; a retention watermark can prune old log dirs
once upstream replays are bounded.

Exactly-once — CONTENT-guarded (SCALE.md rule 24) at PURCHASE
granularity, with the LOG ITSELF as the dedup index: each batch's
attributions are anti-joined against the purchase ids already in the
log before being written, so a checkpoint replay OR a post-rebase
redelivery with DIFFERENT micro-batch boundaries never double-credits
a purchase — already-credited purchases drop out of the write
entirely, whatever batch they re-arrive in (batch-level content keys
alone would dedup only identical redeliveries). Because the filter
reads the same artifact the write appends to, there is no second
index a crash could leave out of step: a crash after the log write
simply re-runs the batch, finds its purchases already logged, and
appends nothing. The log dir key is a sha256 of the batch's NEW
purchase ids; the state fold is a latest-wins max, published through
the idempotent form of snapshot_store.snapshot_sink, so its snapshot
version stays monotonic across a rebase.

Law (pinned in tests/test_streaming_attribution.py): the per-touch
aggregate of the union of all attribution batches equals
q_events_attribution_last_touch computed over the full corpus in one
shot, for ANY batch split of the ordered feed (batching invariance).

Reference parity: the reference has no streaming or event surface;
SURVEY.md §2D extension inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from datawarehouse1_spark.streaming.snapshot_store import (
    content_key,
    snapshot_sink,
)

_STATE_COLS = ("user_id", "touch_type", "ts", "event_id")


def _attribute(events: DataFrame) -> DataFrame:
    """The exact batch-query core: per purchase row, the last
    non-purchase touch at or before it under (ts, event_id) order."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        events.withColumn("touch", touch)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "ts",
            F.coalesce(F.col("touch"), F.lit("unattributed")).alias(
                "touch_type"
            ),
            F.floor(F.col("value") * 1000000).cast("long").alias("value_e6"),
        )
    )


def _already_attributed(spark: SparkSession, log_path: str):
    """purchase_ids already present in the log — the log IS the
    dedup index, so the two can never desynchronize (there is no
    second artifact for a crash to leave half-written). Only dirs
    with a _SUCCESS marker count: a crash mid-write leaves a partial
    dir whose credits were never durably published — it must neither
    fail this read nor suppress the re-credit (the redelivery
    recomputes the same content key and overwrites it)."""
    import glob
    import os

    dirs = [
        d
        for d in glob.glob(f"{log_path}/batch=*")
        if os.path.exists(os.path.join(d, "_SUCCESS"))
    ]
    if not dirs:
        return None
    return spark.read.parquet(*dirs).select("purchase_id")


def make_attribution_sink(
    spark: SparkSession,
    state_path: str,
    log_path: str,
) -> "callable":
    """foreachBatch body maintaining the last-touch state and the
    attribution log. Batch columns: event_id, ts, user_id, event_type,
    value."""

    def fold(batch, state, version, replay):
        b = batch.select(
            "event_id", "ts", "user_id", "event_type", "value"
        ).localCheckpoint(eager=True)

        if state is None:
            state = (
                b.select(
                    "user_id",
                    F.col("event_type").alias("touch_type"),
                    "ts",
                    "event_id",
                ).limit(0)
            )
        # prior state rows re-enter as synthetic touch events for the
        # batch's users only (semi-join prune: one row per active user)
        prior = (
            state.join(b.select("user_id").distinct(), "user_id", "left_semi")
            .select(
                "event_id",
                "ts",
                "user_id",
                F.col("touch_type").alias("event_type"),
                F.lit(0.0).alias("value"),
            )
        )
        # purchase-granular exactly-once: purchases already in the LOG
        # drop out BEFORE the write, so a rebased redelivery under
        # different batch boundaries cannot double-credit (or re-credit
        # differently from later state). The log is its own dedup
        # index — one artifact, so a crash between effects can never
        # leave the filter and the credits disagreeing.
        already = _already_attributed(spark, log_path)
        if already is None:
            already = b.select(
                F.col("event_id").alias("purchase_id")
            ).limit(0)
        attributions = (
            _attribute(b.unionByName(prior))
            .join(already, "purchase_id", "left_anti")
            .localCheckpoint(eager=True)
        )

        # log dir keyed by the NEW purchase ids: a replay (all
        # already-logged) collapses to one constant-key empty dir;
        # only new credits are ever appended, so the log never
        # rewrites
        key = content_key("purchase_id").alias("key")
        fp = attributions.agg(key).collect()[0]["key"][:16]
        attributions.coalesce(1).write.mode("overwrite").parquet(
            f"{log_path}/batch={fp}"
        )

        # state fold: latest-wins max over (state ∪ batch touches) —
        # idempotent by algebra; rule-24 content guard: on a replay
        # probe whether any batch touch is newer than the stored state
        # before bumping the version
        touches = b.where(F.col("event_type") != "purchase").select(
            "user_id",
            F.col("event_type").alias("touch_type"),
            "ts",
            "event_id",
        )
        merged = state.unionByName(touches)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        new_state = (
            merged.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(*_STATE_COLS)
        )
        if replay:
            newer = (
                touches.alias("t")
                .join(state.alias("s"), "user_id", "left_outer")
                .where(
                    F.col("s.ts").isNull()
                    | (F.col("t.ts") > F.col("s.ts"))
                    | (
                        (F.col("t.ts") == F.col("s.ts"))
                        & (F.col("t.event_id") > F.col("s.event_id"))
                    )
                )
                .limit(1)
                .collect()
            )
            if not newer:
                return None  # log overwrote idempotently; state unchanged
        return new_state

    return snapshot_sink(spark, state_path, fold, idempotent=True)

