"""Continuously-maintained rollup: a streaming foreachBatch that merges
each micro-batch's partial aggregate into a persistent summary table
(operators/warehouse.py::merge_rollup) — the streaming face of the
incremental O(batch) refresh.

This is the Spark-native version of what the reference's consumers get
from Metabase refreshing dashboard queries against Postgres
(readme.md:115-118): instead of re-running the aggregate over history on
every view, the summary table is always current and O(1) to read.

The maintained table keeps additive measures in exact DECIMAL (merge-
and order-independent); serving casts to double. The table rewrite per
batch is a small-table overwrite (summary cardinality = number of
groups, not rows) — same pattern as upsert_small_table, documented as
the Parquet trade-off.

Exactly-once: foreachBatch is at-least-once, and adding a delta is not
idempotent, so each publish carries the producing batch_id as its
snapshot VERSION (streaming/snapshot_store.py): guard and data move in
one atomic pointer swap and can never disagree, the serving schema
stays pure (no metadata column for SELECT * consumers — the pre-r7
`_last_batch` column is gone), and the guard check is a filesystem
stat, not a Spark job. Replayed batches are skipped, not
double-counted: the sink is the strict form of
snapshot_store.snapshot_sink. Attach it with
`source.writeStream.foreachBatch(make_rollup_sink(...))`.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from datawarehouse1_spark.operators.warehouse import merge_rollup
from datawarehouse1_spark.streaming.snapshot_store import snapshot_sink


def make_rollup_sink(
    spark: SparkSession,
    rollup_path: str,
    batch_agg: Callable[[DataFrame], DataFrame],
    keys: Sequence[str],
    additive_cols: Sequence[str],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: aggregate ONLY the micro-batch, merge into the
    persistent rollup, publish atomically (versioned dir + pointer
    swap; the version doubles as the replay guard)."""

    def fold(batch, old, version, replay):
        delta = batch_agg(batch)
        if old is not None and "_last_batch" in old.columns:
            # Grandfather pre-r7 rollups that carried the in-table guard
            # column. A legacy real dir has no version suffix, so the
            # store's version guard is vacuous — the replay check MUST
            # come from the column itself before it is dropped, or a
            # checkpoint replay right after the upgrade (sink
            # committed, checkpoint didn't) would double-count the
            # delta.
            row = old.selectExpr("max(_last_batch) AS b").collect()[0]
            if row["b"] is not None and row["b"] >= version:
                return None  # replayed batch already in the legacy rollup
            old = old.drop("_last_batch")
        return merge_rollup(old, delta, keys, additive_cols)

    return snapshot_sink(spark, rollup_path, fold)
