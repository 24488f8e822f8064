"""Continuously-maintained 64-bit fingerprint index (image dHash /
audio energy hashes): the multimodal twin of neardup_maintenance.py.

Per arriving micro-batch of assets (id, payload), the sink

  1. decodes payloads to 64-bit fingerprints (injected fingerprint_fn
     — image_dhash, audio_energy_fingerprint, or any (id, hi, lo)
     producer; decode stays inside the batch's own tasks, payloads
     never shuffle),
  2. emits the batch's near-dup PAIRS against everything ingested so
     far (operators/dedup.py::hash64_band_pairs_incremental — the
     new×history and new×new band quadrants only), and
  3. folds the batch's (id, hi, lo) rows — 24 bytes per asset — into
     the persisted index, republished atomically through
     streaming/snapshot_store.py.

Steady state at 100 TB of media: per batch, decode cost scales with
the batch, the band join probes a 24-byte/asset index, and the
history×history quadrant is never regenerated. The incremental-equals-
full law (tests/test_dedup_similarity.py) makes the union of all
emitted pairs equal a full hash64_band_pairs run over the corpus.

Exactly-once: same discipline as the minhash maintainer — foreachBatch
is at-least-once and both effects are non-idempotent, so the snapshot
version (the producing batch id) guards both, through the strict form
of snapshot_store.snapshot_sink. Pairs land in a
per-batch subdirectory (pairs/batch=<id>) BEFORE the index publishes;
a crash between the two leaves the index version behind, and the
replay overwrites the same pair dir then publishes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from datawarehouse1_spark.operators.dedup import hash64_band_pairs_incremental
from datawarehouse1_spark.streaming.snapshot_store import snapshot_sink


def make_fingerprint_sink(
    spark: SparkSession,
    index_path: str,
    pairs_path: str,
    fingerprint_fn: Callable[[DataFrame], DataFrame],
    id_col: str = "asset_id",
    hi_col: str = "hash_hi",
    lo_col: str = "hash_lo",
    max_hamming: int = 3,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body. `fingerprint_fn` maps the asset batch to
    (id_col, hi_col, lo_col) rows. Ids must be globally unique across
    batches; `max_hamming` is fixed for the life of the index (the
    banding derives from it)."""

    def fold(batch, history, version, replay):
        new_index = fingerprint_fn(batch).localCheckpoint(eager=True)
        if history is None:
            history = new_index.limit(0)  # bootstrap: new×new only
        else:
            dup = (
                new_index.select(id_col)
                .join(history.select(id_col), id_col, "left_semi")
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"fingerprint sink: batch {version} re-delivers asset "
                    f"id {dup[0][id_col]} already in the index — ids must "
                    "be globally unique across batches"
                )
        pairs = hash64_band_pairs_incremental(
            history, new_index, id_col, hi_col, lo_col, max_hamming
        )
        pairs.write.mode("overwrite").parquet(f"{pairs_path}/batch={version}")
        return history.unionByName(new_index)

    return snapshot_sink(spark, index_path, fold)
