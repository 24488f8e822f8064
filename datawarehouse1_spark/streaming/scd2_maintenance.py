"""Continuously-maintained SCD TYPE-2 history from a CDC change stream:
the audit/as-of counterpart of streaming/cdc_apply.py (which keeps only
the latest state). Each micro-batch of I/U/D changes extends the
version history:

  * the batch's own changes become version rows
    (operators/warehouse.py::scd2_from_changes);
  * a key's OPEN version from previous batches (valid_to_seq IS NULL)
    is CLOSED at the batch's first seq for that key — intervals chain
    seamlessly across batch boundaries;
  * deletes close without adding rows, exactly as in the batch
    operator.

Law (pinned in tests/test_streaming_scd2.py): folding a change feed
batch-by-batch through this sink produces EXACTLY
scd2_from_changes(whole feed) — batching is an implementation detail,
not a semantics change. Requires the stream's cross-batch contract:
seq values for a key are globally increasing across batches (true for
any log-ordered CDC source; within-batch duplicates raise loudly).

Durability/exactly-once: the history republishes through
streaming/snapshot_store.py — atomic pointer swap, version == batch
id, replayed batches skipped by the strict guard of snapshot_sink.
O(history) rewrite per batch, same small-table trade-off as the other
maintainers (a real deployment points this at a row-merge format; the
OPERATOR is the portable part).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.operators.warehouse import scd2_from_changes
from datawarehouse1_spark.streaming.snapshot_store import snapshot_sink


def make_scd2_sink(
    spark: SparkSession,
    history_path: str,
    keys: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: extend the SCD2 history with the micro-batch."""
    keys = list(keys)

    def fold(batch, history, version, replay):
        new_versions = scd2_from_changes(
            batch, keys, seq_col=seq_col, op_col=op_col
        )
        if history is None:
            return new_versions
        # close each touched key's open version at the batch's first seq
        first_seq = batch.groupBy(*keys).agg(
            F.min(seq_col).cast("long").alias("_close_at")
        )
        # cross-batch total-order enforcement: a batch seq at or below
        # ANY existing seq boundary for the key would write a corrupt /
        # overlapping interval SILENTLY — fail loudly instead, like the
        # within-batch duplicate-seq guard in scd2_from_changes. The
        # high-water mark must include valid_to_seq, not just
        # valid_from_seq: a delete closes the last version at the D's
        # seq (valid_to > max valid_from), and a contract-violating seq
        # inside that closed interval would otherwise slip past the
        # guard and land an overlapping version row.
        stale = (
            history.groupBy(*keys)
            .agg(
                F.max(
                    F.greatest(
                        F.col("valid_from_seq"),
                        F.coalesce(F.col("valid_to_seq"), F.col("valid_from_seq")),
                    )
                ).alias("_hist_max")
            )
            .join(F.broadcast(first_seq), keys)
            .filter(F.col("_close_at") <= F.col("_hist_max"))
            .limit(1)
            .collect()
        )
        if stale:
            raise ValueError(
                f"scd2 sink: batch {version} delivers seq <= an existing "
                f"version's start for key {stale[0]} — the change stream "
                "violated the globally-increasing-seq contract"
            )
        closed = (
            history.join(F.broadcast(first_seq), keys, "left")
            .withColumn(
                "valid_to_seq",
                F.when(
                    F.col("valid_to_seq").isNull()
                    & F.col("_close_at").isNotNull(),
                    F.col("_close_at"),
                ).otherwise(F.col("valid_to_seq")),
            )
            .withColumn(
                "is_current",
                F.col("valid_to_seq").isNull(),
            )
            .drop("_close_at")
        )
        return closed.unionByName(new_versions)

    return snapshot_sink(spark, history_path, fold)

