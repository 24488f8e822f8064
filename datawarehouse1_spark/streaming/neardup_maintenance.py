"""Continuously-maintained near-dup index: a streaming foreachBatch
that, per arriving micro-batch of documents,

  1. emits the batch's near-dup PAIRS against everything ingested so
     far (operators/dedup.py::minhash_lsh_incremental_pairs — the
     new×history and new×new quadrants only; history×history pairs
     were emitted when those batches arrived), and
  2. folds the batch's signatures into the persisted LSH index
     (build_minhash_index output), republished atomically through
     streaming/snapshot_store.py. A document shorter than the shingle
     size is kept with empty shingles and bands: it pairs with nothing,
     but its id stays guarded against reuse.

This is the steady-state shape of a continuously-ingesting corpus at
100 TB: per batch, signature compute scales with the batch, the band
join probes the (pre-computable, bucketable) index, and no quadratic
recomputation ever happens. The incremental-equals-full law
(tests/test_r7_hardening.py) is what makes the union of all emitted
pairs equal a full LSH run over the whole corpus.

Exactly-once: foreachBatch is at-least-once, and BOTH effects (pair
append, index grow) are non-idempotent, so the snapshot version — the
producing batch id — guards both: the strict guard of
snapshot_store.snapshot_sink skips a replayed batch outright.
Pair output is written to a per-batch subdirectory (pairs/batch=<id>)
BEFORE the index publishes; a crash between the two leaves the pair
dir present but the index version behind, and the replay overwrites
the same pair dir (idempotent per-batch path) then publishes — so the
downstream union of pairs/*/ never double-counts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.operators.dedup import (
    build_minhash_index,
    minhash_lsh_incremental_pairs,
    tokens,
)
from datawarehouse1_spark.streaming.snapshot_store import snapshot_sink


def make_neardup_sink(
    spark: SparkSession,
    index_path: str,
    pairs_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body. Ids must be globally unique across batches
    (the operator contract); banding parameters are fixed for the life
    of the index — changing them invalidates it."""

    def fold(batch, history, version, replay):
        new_index = build_minhash_index(
            batch, text_col, id_col, num_hashes, bands, shingle_n
        ).localCheckpoint(eager=True)
        if history is None:
            # bootstrap: no cross pairs possible; new×new only
            history = new_index.limit(0)
        else:
            # id-disjointness over ALL the batch's ids: a doc id reused
            # across batches would pair with ITSELF at jaccard 1.0 and be
            # indexed twice — fail loudly before any effect lands
            dup = (
                batch.select(F.col(id_col).alias("_id"))
                .join(history.select("_id"), "_id", "left_semi")
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"neardup sink: batch {version} re-delivers doc id "
                    f"{dup[0]._id} already in the index — ids must be "
                    "globally unique across batches"
                )
        pairs = minhash_lsh_incremental_pairs(
            history,
            batch,
            text_col,
            id_col,
            num_hashes,
            bands,
            shingle_n,
            jaccard_threshold=jaccard_threshold,
            new_index=new_index,  # built once above; no recompute
        )
        # per-batch pair dir: overwrite-idempotent under replay, and
        # written BEFORE the index version commits (see module doc)
        pairs.write.mode("overwrite").parquet(f"{pairs_path}/batch={version}")
        # a doc with fewer than shingle_n tokens (or no text) has no
        # shingles, so the index build drops it; keep its id with empty
        # _sh/_bands (no band rows, so no candidates) so that a later
        # reuse of it is caught too. A row filter, not a join: no job.
        indexed = F.coalesce(F.size(tokens(text_col)) >= shingle_n, F.lit(False))
        short = batch.filter(~indexed).select(
            F.col(id_col).alias("_id"),
            *(
                F.array().cast(new_index.schema[c].dataType).alias(c)
                for c in ("_sh", "_bands")
            ),
        )
        return history.unionByName(new_index).unionByName(short)

    return snapshot_sink(spark, index_path, fold)
