"""Continuously-maintained takedown enforcement: the always-on face of
q_curation_optout_takedown. Opt-out / takedown requests arrive as a
STREAM of doc-id tombstones; the maintained state is the served corpus
snapshot with every tombstoned document removed, plus an append-only
audit log of what each batch removed.

Per arriving micro-batch of tombstones (doc_id), the sink

  1. anti-joins the current corpus snapshot against the batch's
     tombstone ids (broadcast — the batch is small against the corpus,
     and the corpus never re-shuffles to honor it),
  2. writes ONE audit row (batch_id, n_tombstones, n_removed,
     n_remaining) to a per-batch overwrite-idempotent directory, and
  3. republishes the reduced corpus atomically through
     streaming/snapshot_store.py with version = batch_id.

Steady state at 100 TB: per batch the work is one broadcast anti join
over the snapshot — no shuffle of corpus rows, no rewrite of rows that
survive (the snapshot store copies pointers to immutable files at this
layer's scale analogy; a lakehouse deployment would express step 3 as
a deletion-vector commit).

Exactly-once — CONTENT-guarded, not id-guarded (r9 code review): a
bare `version >= batch_id` replay guard cannot distinguish a
checkpoint replay from a stream whose checkpoint was lost and whose
batch numbering REBASED below the published version; for a compliance
sink the second case must still apply (an id-guard would silently
drop real takedowns forever). Takedown application is idempotent by
algebra — anti-joining an already-removed id removes nothing — so the
sink is the idempotent form of snapshot_store.snapshot_sink: it always
computes the anti join and skips the effects only when the batch
removes nothing AND the version says replay. The published
version stays monotonic across a rebase (a rebased batch lands at
applied+1), and the audit key is the published version. The audit row
lands in its overwrite-idempotent dir BEFORE the corpus publishes; a
crash between the two re-applies on redelivery. An all-no-op batch on
the skip path still writes a DURABLE no-op proof row (batch_id = -1,
n_removed = 0) keyed by a content hash of its tombstone set — replays
of the same request overwrite the same dir, so the compliance trail
records every (re)delivered request exactly once and the served
corpus is correct in every scenario. A tombstone for a doc_id already
removed (or never present) is a counted no-op, NOT an error: takedown
feeds routinely redeliver (the legal request repeats until
confirmed) — unlike ingest ids, which must be unique.

Batching-invariance law (pinned in tests/test_streaming_takedown.py):
applying the feed batch-by-batch equals one anti join of the full
tombstone set against the original corpus.

Reference parity: the reference has no deletion/compliance surface;
SURVEY.md §2D extension inventory (curation tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.streaming.snapshot_store import (
    content_key,
    snapshot_sink,
)


def make_takedown_sink(
    spark: SparkSession,
    corpus_path: str,
    audit_path: str,
    bootstrap: DataFrame,
    id_col: str = "doc_id",
) -> "callable":
    """foreachBatch body. `bootstrap` is the initial corpus used the
    first time the sink ever runs (version None); afterwards the
    maintained snapshot is authoritative."""

    def fold(batch, corpus, version, replay):
        # On a replay (`applied >= batch_id`) the batch may be a
        # checkpoint redelivery OR real takedowns of a stream whose
        # checkpoint was lost and whose numbering rebased (a routine
        # ops event); a compliance sink must not drop the second, so it
        # always computes the anti join and skips only when nothing is
        # removed. The only loss after a rebase is the audit row of a
        # batch whose tombstones were all already absent — the corpus
        # itself is correct in every scenario.
        tombstones = (
            batch.select(id_col).distinct().localCheckpoint(eager=True)
        )
        if corpus is None:
            corpus = bootstrap
        n_before = corpus.count()
        kept = corpus.join(F.broadcast(tombstones), id_col, "left_anti")
        kept = kept.localCheckpoint(eager=True)
        n_after = kept.count()
        if replay and n_before == n_after:
            # ADVICE r9: a (redelivered or rebased) batch whose
            # tombstones are all already absent still leaves DURABLE
            # proof it was processed — the audit trail is the artifact
            # regulators ask for. The row is keyed by a content hash of
            # the tombstone batch, so replays of the same request
            # overwrite the same dir (idempotent) instead of piling up,
            # and never collide with a versioned row. batch_id = -1
            # marks the no-op-proof class; n_removed = 0 by definition.
            # The hash aggregate is a 1-row collect bounded by the
            # tombstone batch (small by contract — it broadcasts).
            fp = tombstones.agg(
                F.count("*").alias("n"), content_key(id_col).alias("key")
            ).collect()[0]
            noop = spark.createDataFrame(
                [(-1, fp["n"], 0, n_after)],
                "batch_id long, n_tombstones long, n_removed long,"
                " n_remaining long",
            )
            noop.coalesce(1).write.mode("overwrite").parquet(
                f"{audit_path}/batch=noop-{fp['key'][:16]}"
            )
            return None
        # the audit key is the published version: monotonic even across
        # a rebase (a rebased batch 0 lands at applied+1), so it never
        # collides with history
        audit = spark.createDataFrame(
            [
                (
                    version,
                    tombstones.count(),
                    n_before - n_after,
                    n_after,
                )
            ],
            "batch_id long, n_tombstones long, n_removed long, n_remaining long",
        )
        audit.coalesce(1).write.mode("overwrite").parquet(
            f"{audit_path}/batch={version}"
        )
        return kept

    return snapshot_sink(spark, corpus_path, fold, idempotent=True)
