"""Continuously-maintained snapshot from a CDC change stream: a
streaming foreachBatch that folds each micro-batch of changes
(op ∈ {'I','U','D'}, per-key order by a sequence column) into a
persistent snapshot table via operators/warehouse.py::apply_cdc.

This is the streaming generalization of the reference's control-table
upsert (etl/app.py:55-89, which rewrites one small metadata table per
ingested file): a Debezium-style feed materialized as an always-current
table. Batches apply in arrival order (foreachBatch is sequential), the
sequence column orders ops WITHIN a batch, and a redelivered batch is a
no-op by construction — apply_cdc is idempotent for a fixed change set
(re-updating to the same values, re-deleting an absent key, and
re-inserting a row that anti-joins away its own prior copy all converge)
— which is what makes the sink exactly-once under checkpoint replay.

Durability: each batch publishes through streaming/snapshot_store.py —
write a fresh immutable version directory, then atomically repoint the
serving path (POSIX rename of a symlink). A crash at ANY point leaves a
complete snapshot readable (old or new, never partial), which is what
the pre-r7 delete-then-overwrite swap could not guarantee. The rewrite
per batch is still O(snapshot), documented as the Parquet small-table
trade-off (a real deployment points this at a format with row-level
merge; the OPERATOR is the engine-portable part). The sink is the
strict form of snapshot_store.snapshot_sink; attach it with
`changes.writeStream.foreachBatch(make_cdc_sink(...))`.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from datawarehouse1_spark.operators.warehouse import apply_cdc
from datawarehouse1_spark.streaming.snapshot_store import snapshot_sink


def make_cdc_sink(
    spark: SparkSession,
    snapshot_path: str,
    keys: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: fold the micro-batch of changes into the
    persistent snapshot and publish it atomically (versioned dir +
    pointer swap). A cold start (no snapshot yet) applies against an
    empty base, so a stream can bootstrap from an insert-only prefix.

    apply_cdc is idempotent for a fixed change set, so a replayed batch
    converges even without a guard; the strict version guard still
    skips it outright (the published version IS the last-applied batch
    id), saving the redundant rewrite."""

    def fold(batch, base, version, replay):
        if base is None:
            base = batch.drop(op_col, seq_col).limit(0)
        return apply_cdc(base, batch, keys, seq_col=seq_col, op_col=op_col)

    return snapshot_sink(spark, snapshot_path, fold)
