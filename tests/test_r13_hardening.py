"""Round-13 hardening: shared persisted-state memo discipline
(VERDICT r12 #3, ADVICE r12 items 1-2), IVF training determinism
staging, and the graph-family skew stress (VERDICT r12 #4).
"""

from __future__ import annotations

import pytest

from datawarehouse1_spark.state_memo import AppScopedMemo


class _FakeSpark:
    """Duck-typed stand-in exposing only sparkContext.applicationId —
    what AppScopedMemo reads. Lets the eviction rules be pinned without
    paying a second real SparkSession per case."""

    def __init__(self, app_id: str) -> None:
        self.sparkContext = type("SC", (), {"applicationId": app_id})()


class _Unpersistable:
    def __init__(self) -> None:
        self.unpersisted = False

    def unpersist(self):
        self.unpersisted = True
        return self


def test_memo_caches_per_app_and_corpus():
    memo = AppScopedMemo()
    spark = _FakeSpark("app-1")
    builds = []

    def build(tag):
        def _b():
            builds.append(tag)
            return tag

        return _b

    assert memo.get_or_build(spark, "/sf0.001", build("a")) == "a"
    assert memo.get_or_build(spark, "/sf0.001", build("a2")) == "a"  # hit
    assert builds == ["a"]


def test_memo_keeps_other_corpora_in_same_app():
    """ADVICE r12: alternating two sf_dirs inside ONE app (accuracy at
    sf0.001 then bench at sf0.1) must not thrash — the old clear()-on-
    miss rebuilt the index on every alternation."""
    memo = AppScopedMemo()
    spark = _FakeSpark("app-1")
    n_builds = {"n": 0}

    def build(val):
        def _b():
            n_builds["n"] += 1
            return val

        return _b

    memo.get_or_build(spark, "/sf0.001", build("x"))
    memo.get_or_build(spark, "/sf0.1", build("y"))
    # alternate: both must be hits
    assert memo.get_or_build(spark, "/sf0.001", build("x2")) == "x"
    assert memo.get_or_build(spark, "/sf0.1", build("y2")) == "y"
    assert n_builds["n"] == 2
    assert len(memo) == 2


def test_memo_new_app_evicts_and_unpersists():
    """VERDICT r12 #3 done-criterion: a new applicationId rebuilds, and
    the evicted entry's checkpoint blocks are released via unpersist."""
    memo = AppScopedMemo()
    old_value = _Unpersistable()
    memo.get_or_build(_FakeSpark("app-1"), "/sf0.01", lambda: old_value)

    new_value = _Unpersistable()
    got = memo.get_or_build(_FakeSpark("app-2"), "/sf0.01", lambda: new_value)
    assert got is new_value
    assert old_value.unpersisted
    assert list(memo.keys()) == [("app-2", "/sf0.01")]


def test_memo_caches_none_result():
    """The IVF empty-corpus fallback memoizes None — a second call must
    NOT re-pay the limit(16).count() guard + training attempt."""
    memo = AppScopedMemo()
    spark = _FakeSpark("app-1")
    n = {"n": 0}

    def build():
        n["n"] += 1
        return None

    assert memo.get_or_build(spark, "/empty", build) is None
    assert memo.get_or_build(spark, "/empty", build) is None
    assert n["n"] == 1


def test_memo_unpersist_failure_is_swallowed():
    memo = AppScopedMemo()

    class _Raises:
        def unpersist(self):
            raise RuntimeError("app already stopped")

    memo.get_or_build(_FakeSpark("app-1"), "/c", lambda: _Raises())
    # must not raise despite the evicted entry's unpersist failing
    assert memo.get_or_build(_FakeSpark("app-2"), "/c", lambda: "fresh") == "fresh"


def test_both_persisted_state_caches_share_the_discipline():
    """The two call sites must actually USE the shared helper — the
    whole point of VERDICT r12 #3 is one eviction rule, not two."""
    from datawarehouse1_spark.queries import dedup_ext, similarity

    assert isinstance(dedup_ext._MINHASH_INDEX_CACHE, AppScopedMemo)
    assert isinstance(similarity._IVF_CENTROIDS, AppScopedMemo)


def test_copurchase_skew_pathological_basket(spark):
    """VERDICT r12 #4: the Σ C(basket,2) wedge bound is a claim — stage
    the pathology and pin the evidence. One 500-line order generates
    C(500,2) = 124,750 candidate pairs on its own; the support prune
    must kill them all (each pair occurs once), and the max_basket cap
    must bound candidate volume BEFORE the quadratic join while leaving
    the supported edges of the well-behaved orders intact."""
    from pyspark.sql import functions as F

    from datawarehouse1_spark.queries.graph import (
        copurchase_edges_from_incidence,
    )

    # well-behaved: two orders sharing the same 3-part basket (every
    # pair supported twice) + one monster 500-part order (pairs unique)
    normal = [(1, p) for p in (10, 11, 12)] + [(2, p) for p in (10, 11, 12)]
    monster = [(99, 1000 + i) for i in range(500)]
    ip = spark.createDataFrame(
        normal + monster, ["l_orderkey", "l_partkey"]
    )

    # candidate volume law: pre-prune pairs == Σ C(basket, 2)
    candidates = (
        ip.alias("a")
        .join(
            ip.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .count()
    )
    assert candidates == 2 * 3 + (500 * 499) // 2  # 124,756

    uncapped = {
        (r.pa, r.pb)
        for r in copurchase_edges_from_incidence(ip, support=2).collect()
    }
    # support prune kills every monster pair: only the repeated basket
    # survives — the downstream graph never sees the 124,750 candidates
    assert uncapped == {(10, 11), (10, 12), (11, 12)}

    capped = {
        (r.pa, r.pb)
        for r in copurchase_edges_from_incidence(
            ip, support=2, max_basket=100
        ).collect()
    }
    assert capped == uncapped  # cap drops only unsupported evidence here

    # the cap bounds the quadratic input: the monster order is gone
    # from the incidence the self-join sees, so candidate volume under
    # the cap is the well-behaved 6 pairs only
    capped_ip = ip.join(
        ip.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= 100)
        .select("l_orderkey"),
        "l_orderkey",
        "left_semi",
    )
    capped_candidates = (
        capped_ip.alias("a")
        .join(
            capped_ip.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .count()
    )
    assert capped_candidates == 6


def test_copurchase_cap_logs_loudly(spark, caplog):
    """The skew cap must never drop evidence silently."""
    import logging

    from datawarehouse1_spark.queries.graph import (
        copurchase_edges_from_incidence,
    )

    ip = spark.createDataFrame(
        [(7, 100 + i) for i in range(30)], ["l_orderkey", "l_partkey"]
    )
    with caplog.at_level(
        logging.WARNING, logger="datawarehouse1_spark.queries.graph"
    ):
        copurchase_edges_from_incidence(ip, support=2, max_basket=10).count()
    assert any("EXCLUDING" in r.message for r in caplog.records)


def test_ivf_training_layout_staged_deterministic(spark):
    """ADVICE r12 item 3: k-means|| with a fixed seed is deterministic
    only for a fixed input partitioning. train_ivf_centroids must stage
    a layout-independent deterministic layout, so training the same
    corpus presented under DIFFERENT upstream layouts yields
    bit-identical centroids."""
    import numpy as np

    from datawarehouse1_spark.catalog import table
    from datawarehouse1_spark.operators.similarity import train_ivf_centroids

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    a = train_ivf_centroids(emb, n_centroids=8)
    # same data, radically different upstream layout + row order
    shuffled = emb.repartition(13).sortWithinPartitions(
        (emb["vec_id"] * 2654435761) % 97
    )
    b = train_ivf_centroids(shuffled, n_centroids=8)
    assert np.array_equal(a, b), "centroids depend on upstream layout"
