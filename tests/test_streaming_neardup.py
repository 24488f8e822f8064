"""Streaming near-dup index maintenance (streaming/neardup_maintenance.py):
per-batch incremental LSH + atomically-published signature index.

Covers: bootstrap (first batch, new×new only), cross-batch pair
emission (the quadrant the incremental path exists for), index growth,
replay idempotence (version guard: no duplicate pairs, no double-grown
index), and the corpus-equivalence claim (union of all emitted pairs ==
full LSH run over everything ingested).
"""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from datawarehouse1_spark.operators.dedup import minhash_lsh_pairs
from datawarehouse1_spark.streaming.neardup_maintenance import make_neardup_sink
from datawarehouse1_spark.streaming.snapshot_store import latest_version, read_snapshot

LSH = dict(num_hashes=16, bands=4, shingle_n=3, jaccard_threshold=0.5)

TEXTS = {
    1: "the quick brown fox jumps over the lazy dog near the river bank",
    2: "pack my box with five dozen liquor jugs for the long trip home",
    3: "a completely different document about spark streaming state stores",
}


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(spark, pairs_path):
    files = glob.glob(f"{pairs_path}/batch=*")
    if not files:
        return set()
    df = spark.read.parquet(*files)
    return {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b), round(r.jaccard, 9))
        for r in df.collect()
    }


def test_neardup_sink_cross_batch_and_replay(spark, tmp_path):
    index_path = str(tmp_path / "index")
    pairs_path = str(tmp_path / "pairs")
    sink = make_neardup_sink(spark, index_path, pairs_path, **LSH)

    # batch 0: two distinct docs + an exact dup of doc 1 → one new×new pair
    b0 = _batch(
        spark, [(1, TEXTS[1]), (2, TEXTS[2]), (101, TEXTS[1])]
    )
    sink(b0, 0)
    assert latest_version(index_path) == 0
    p0 = _pairs(spark, pairs_path)
    assert {(a, b) for a, b, _ in p0} == {(1, 101)}

    # batch 1: a near-dup of HISTORY doc 2 (cross-batch!) + a fresh doc
    b1 = _batch(
        spark,
        [(201, TEXTS[2] + " again"), (202, TEXTS[3])],
    )
    sink(b1, 1)
    assert latest_version(index_path) == 1
    p1 = _pairs(spark, pairs_path)
    assert (2, 201) in {(a, b) for a, b, _ in p1}, "cross-batch pair missing"
    n_index = read_snapshot(spark, index_path).count()
    assert n_index == 5  # all ingested docs indexed exactly once

    # replay of batch 1 (at-least-once delivery): strict no-op
    sink(b1, 1)
    assert _pairs(spark, pairs_path) == p1
    assert read_snapshot(spark, index_path).count() == n_index
    assert latest_version(index_path) == 1

    # corpus equivalence: union of emitted pairs == full LSH over
    # everything ingested (the incremental-equals-full law, end to end
    # through the streaming sink)
    corpus = b0.unionByName(b1)
    full = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b), round(r.jaccard, 9))
        for r in minhash_lsh_pairs(corpus, **LSH).collect()
    }
    assert p1 == full


def test_neardup_sink_empty_batch_noop(spark, tmp_path):
    index_path = str(tmp_path / "index")
    sink = make_neardup_sink(
        spark, index_path, str(tmp_path / "pairs"), **LSH
    )
    sink(_batch(spark, []).filter(F.lit(False)), 0)
    assert latest_version(index_path) is None


def test_neardup_sink_duplicate_id_across_batches_raises(spark, tmp_path):
    """An id re-delivered in a later batch would self-pair at jaccard
    1.0 and be indexed twice — the sink must raise before any effect
    lands (pairs dir and index untouched)."""
    import pytest

    index_path = str(tmp_path / "index")
    pairs_path = str(tmp_path / "pairs")
    sink = make_neardup_sink(spark, index_path, pairs_path, **LSH)
    sink(_batch(spark, [(1, TEXTS[1]), (2, TEXTS[2])]), 0)
    before_pairs = _pairs(spark, pairs_path)
    n_index = read_snapshot(spark, index_path).count()

    with pytest.raises(ValueError, match="globally unique"):
        sink(_batch(spark, [(2, TEXTS[3])]), 1)
    assert _pairs(spark, pairs_path) == before_pairs
    assert read_snapshot(spark, index_path).count() == n_index
    assert latest_version(index_path) == 0


def test_neardup_sink_short_doc_id_stays_guarded(spark, tmp_path):
    """A doc with fewer tokens than shingle_n has no shingles and pairs
    with nothing, but its id is still in the index: a later batch that
    re-delivers it raises like any other reused id."""
    import pytest

    index_path = str(tmp_path / "index")
    pairs_path = str(tmp_path / "pairs")
    sink = make_neardup_sink(spark, index_path, pairs_path, **LSH)
    sink(_batch(spark, [(1, "one two"), (2, TEXTS[2])]), 0)
    index = {r._id: r for r in read_snapshot(spark, index_path).collect()}
    assert set(index) == {1, 2}
    assert index[1]._sh == [] and index[1]._bands == []
    assert _pairs(spark, pairs_path) == set()

    for text in ("one two", TEXTS[1]):  # re-delivered short, then long
        with pytest.raises(ValueError, match="globally unique"):
            sink(_batch(spark, [(1, text)]), 1)
    assert latest_version(index_path) == 0
