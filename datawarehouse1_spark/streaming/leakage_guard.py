"""Continuously-maintained eval-contamination guard: the streaming
face of q_split_train_holdout's leakage audit (queries/curation.py).

Documents arrive as a STREAM of (doc_id, text). Each document belongs
to a split — a pure function of doc_id (functions/splits.py, the
same md5 hex-prefix rule as the batch query) — and the guard
maintains:

  * the persisted TRAIN text-hash index (distinct md5(text) of every
    train document ingested so far — 32 hex chars per distinct text,
    republished atomically through streaming/snapshot_store.py), and
  * an append-only FLAG log: every val/test document whose exact text
    is already in train (history) or arrives alongside a train twin in
    the same batch — the evaluation rows that would silently inflate
    scores if they reached an eval set.

Per micro-batch the sink

  1. tags the batch with split + md5(text) (narrow, inside the batch's
     own tasks — bodies never shuffle; only 32-hex hashes move),
  2. flags holdout docs against (history-index ∪ this batch's train
     hashes) with one equi-join on the hash,
  3. writes the batch's flags to a CONTENT-KEYED overwrite-idempotent
     dir, then folds the batch's train hashes into the index.

Steady state at 100 TB: per batch the work is one hash equi-join of
the batch's holdout hashes (small) against the index — the index side
never rewrites rows that survive, and the corpus text never shuffles.

Exactly-once — CONTENT-guarded (SCALE.md rule 24, the idempotent form
of snapshot_store.snapshot_sink): the index fold is a set UNION
(idempotent by algebra), so the sink always recomputes both effects;
the flag dir is keyed by a sha256 of the batch's doc ids, so a
checkpoint replay or a post-rebase redelivery overwrites the same dir
instead of duplicating flags, and the published index version stays
monotonic across a rebase. A crash between flags and index
publish re-applies both on redelivery (flags overwrite, union no-ops).

Law (pinned in tests/test_streaming_leakage.py): the union of all
flag batches equals the batch query's leakage verdicts computed over
the full corpus in one shot (batching invariance).

Reference parity: the reference has no streaming or eval surface;
SURVEY.md §2D extension inventory (LLM-pipeline tier).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.functions.splits import split_col
from datawarehouse1_spark.streaming.snapshot_store import (
    content_key,
    snapshot_sink,
)


def make_leakage_sink(
    spark: SparkSession,
    index_path: str,
    flags_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "callable":
    """foreachBatch body maintaining the train-hash index and the
    contamination flag log."""

    def fold(batch, history, version, replay):
        tagged = (
            batch.select(
                F.col(id_col).alias("doc_id"),
                split_col(id_col).alias("split"),
                F.md5(text_col).alias("th"),
            )
            .localCheckpoint(eager=True)
        )
        new_train = tagged.filter(F.col("split") == "train").select("th")
        if history is None:
            history = new_train.limit(0)
        known = history.unionByName(new_train).distinct()
        holdout = tagged.filter(F.col("split") != "train")
        flags = holdout.join(known, "th", "left_semi").select(
            "doc_id", "split", "th"
        )
        # content-keyed flag dir: replays and rebased redeliveries of
        # the same document batch overwrite the same dir (idempotent),
        # and never collide with a different batch's flags
        key = content_key("doc_id").alias("key")
        fp = tagged.agg(key).collect()[0]["key"][:16]
        flags.coalesce(1).write.mode("overwrite").parquet(
            f"{flags_path}/batch={fp}"
        )
        # index fold: a set union — idempotent by algebra, so on a
        # replay the republish is skipped only when the batch adds no
        # new train hash (a bounded limit(1) probe); a rebased batch
        # with real new content still publishes
        if replay:
            added = (
                new_train.join(history, "th", "left_anti")
                .limit(1)
                .collect()
            )
            if not added:
                return None  # flags overwrote idempotently; index unchanged
        return known

    return snapshot_sink(spark, index_path, fold, idempotent=True)
