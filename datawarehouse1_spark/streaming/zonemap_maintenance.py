"""Continuously-maintained file zone maps: the streaming face of the
layout-pruning queries (q_layout_file_prune_stats reads a zone-map
layout; q_layout_compaction_plan rewrites one — this maintainer is
where the zone maps COME FROM as files land).

Rows arrive as a STREAM tagged with the file they were ingested from
(`file_id`) plus the clustering key and a date column.  The maintainer
folds, per file, the scan-pruning statistics a query planner consumes:

    file_id, n_rows, key_min, key_max, date_min, date_max

and republishes the bounded per-file index atomically through
streaming/snapshot_store.py.  A point lookup or range predicate then
prunes files whose [min, max] envelope excludes it WITHOUT opening
them — the exact decision q_layout_file_prune_stats quantifies.

Scale shape: per batch the work is one aggregate over the batch's own
rows grouped by file_id (map-side combinable; bodies never shuffle —
only the bounded (file, stats) tuples), then a key-aligned merge with
the bounded index.  The index is O(files), not O(rows), at any corpus
size.

Exactly-once — id-guarded with the LOUD checkpoint-coupling contract
(SCALE.md rule 24, the non-idempotent branch): the fold is a per-file
stats MERGE (min-of-mins / max-of-maxes / sum-of-counts), and the
n_rows sum makes re-folding the same batch WRONG, so (a) a batch whose
id the published version already covers is skipped before any work
(the strict guard of snapshot_store.snapshot_sink — Spark redelivers
only the last uncommitted batch under an intact checkpoint), and (b) a
batch whose CONTENT matches the key stored with the last publish is
skipped even when its id advanced (a defense-in-depth shield the id
alone cannot give). The key file lives inside the published version
directory, so it is written right after the pointer swap.
Like the rollup and CDC maintainers, the index is COUPLED to its
checkpoint: on checkpoint loss, restart against a fresh index store —
no automatic recovery of a non-idempotent fold is correct
(streaming/snapshot_store.py states the same contract).

Law (pinned in tests/test_streaming_zonemap.py): the published index
equals the one-shot batch recompute over all delivered rows, files
pruned by the envelope never contain matching rows, and replay /
rebase / restart hold.

Reference parity: the reference's init.sql declares btree indexes
(O17); a zone map is the lakehouse equivalent at file granularity.
SURVEY.md §2B O17 + §2D layout extension inventory.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.streaming.snapshot_store import snapshot_sink

_STATS = (
    "file_id",
    "n_rows",
    "key_min",
    "key_max",
    "date_min",
    "date_max",
)


def batch_zonemap(
    batch: DataFrame, key_col: str, date_col: str, with_digest: bool = False
) -> DataFrame:
    """Per-file zone-map statistics of one delivered batch.

    with_digest=True appends the content-guard digest columns
    (row_digest, row_digest_sq — see _digest_aggs) IN THE SAME groupBy,
    so the sink's stats and digest come from one pass over the batch
    instead of two (ADVICE r11: _row_digest re-scanned the raw batch in
    a second aggregate)."""
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.min(key_col).alias("key_min"),
        F.max(key_col).alias("key_max"),
        F.min(F.to_date(date_col)).alias("date_min"),
        F.max(F.to_date(date_col)).alias("date_max"),
    ]
    if with_digest:
        aggs.extend(_digest_aggs(batch))
    return batch.groupBy("file_id").agg(*aggs)


def merge_zonemaps(index: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a batch's per-file stats into the index: min-of-mins,
    max-of-maxes, sum-of-counts per file_id (a file delivered across
    batches folds correctly; the same batch must not fold twice —
    that is the content guard's job, not the algebra's)."""
    return (
        index.unionByName(delta)
        .groupBy("file_id")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.min("key_min").alias("key_min"),
            F.max("key_max").alias("key_max"),
            F.min("date_min").alias("date_min"),
            F.max("date_max").alias("date_max"),
        )
    )


def prunable_files(index: DataFrame, key_lo: int, key_hi: int) -> DataFrame:
    """Files whose key envelope PROVABLY excludes [key_lo, key_hi] —
    the planner's skip list (sound by the envelope property: a file
    containing a matching row has key_min <= key_hi and
    key_max >= key_lo)."""
    return index.filter(
        (F.col("key_max") < F.lit(key_lo)) | (F.col("key_min") > F.lit(key_hi))
    )


def _digest_aggs(batch: DataFrame, hash_col=None) -> list:
    """Order-independent multiset digest aggregates of the FULL rows:

    * row_digest    — sum of xxhash64(row) widened to DECIMAL(38,0) so
      the sum is exact (no silent BIGINT wrap / ANSI overflow) and
      faithful to duplicate rows (xor would cancel a row delivered an
      even number of times);
    * row_digest_sq — sum of the SQUARES of a 31-bit projection of the
      same hash (ADVICE r11: a linear sum alone is not
      collision-resistant — distinct multisets with coinciding hash
      sums would be misclassified as a redelivery; matching the second
      moment too makes the combiner non-linear). The projection keeps
      each squared term under 2^62 (exact in LongType) and a 10^9-row
      per-file sum under ~5·10^27, far inside DECIMAL(38,0).

    Both are distributed aggs — nothing but one digest row per file
    reaches the driver via the stats collect in _content_key.

    hash_col injects a synthetic hash expression IN TESTS ONLY, where a
    genuine xxhash64 sum collision is unconstructable (finding one is a
    2^32-pair birthday search) — production callers always digest the
    real row hash."""
    h = F.xxhash64(*batch.columns) if hash_col is None else hash_col
    hm = F.pmod(h, F.lit(2147483647))
    return [
        F.sum(h.cast("decimal(38,0)")).alias("row_digest"),
        F.sum((hm * hm).cast("decimal(38,0)")).alias("row_digest_sq"),
    ]


def _content_key(stats_with_digest: DataFrame) -> str:
    """Key over the batch's FULL per-file statistics (count AND both
    envelopes) PLUS the two row-level multiset digest moments — stats
    alone would misclassify two legitimately distinct successive
    batches that happen to be stats-identical (e.g. fixed-size chunks
    of duplicate-keyed rows with the same envelope and count; ADVICE
    r10) as a redelivery and silently drop the second, undercounting
    n_rows. With the digest moments folded in, a colliding batch
    carries row content matching in count, hash sum AND hash second
    moment — in a deliver-each-row-once stream that IS a redelivery,
    not new data. key_min/key_max serialize via str() so any orderable
    key type works (int, string, date; ADVICE r10 — int() raised on
    non-integer clustering keys)."""
    rows = sorted(
        (
            r["file_id"],
            int(r["n_rows"]),
            str(r["key_min"]),
            str(r["key_max"]),
            str(r["date_min"]),
            str(r["date_max"]),
            str(r["row_digest"]),
            str(r["row_digest_sq"]),
        )
        for r in stats_with_digest.collect()
    )
    import hashlib

    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()[:16]


def _key_path(index_path: str) -> str:
    return os.path.join(index_path, "_last_batch_key")


def make_zonemap_sink(
    spark: SparkSession,
    index_path: str,
    key_col: str = "o_orderkey",
    date_col: str = "o_orderdate",
) -> "callable":
    """foreachBatch body maintaining the per-file zone-map index."""
    kp = _key_path(index_path)
    published = {}  # content key of the batch the fold just handed over

    def fold(batch, index, version, replay):
        # one pass over the batch computes stats AND the content-guard
        # digest moments (ADVICE r11: previously two separate groupBys)
        delta_dig = batch_zonemap(
            batch, key_col, date_col, with_digest=True
        ).localCheckpoint(eager=True)
        delta = delta_dig.select(*_STATS)
        # defense-in-depth: a redelivery whose id advanced anyway is
        # still recognized by its CONTENT matching the stored key
        ckey = _content_key(delta_dig)
        if index is not None and os.path.exists(kp):
            with open(kp) as fh:
                if json.load(fh).get("key") == ckey:
                    return None
        published.update(key=ckey, version=version)
        return delta if index is None else merge_zonemaps(index, delta)

    apply = snapshot_sink(spark, index_path, fold)

    def sink(batch: DataFrame, batch_id: int) -> None:
        published.clear()
        apply(batch, batch_id)
        if published:  # the key file sits in the version dir just published
            with open(kp, "w") as fh:
                json.dump(published, fh)

    return sink
