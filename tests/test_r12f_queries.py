"""Round-12 batch-6 law tests: first-principles checks for
Kruskal-Wallis, the Brier/Murphy decomposition, the PR threshold
sweep, the degree distribution, and kNN label agreement — one
independent-implementation battery per new declared query (the r10
discipline), plus the no-Python-in-plan pins."""

from __future__ import annotations

from collections import Counter, defaultdict

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datawarehouse1_spark import registry
from datawarehouse1_spark.queries.stats import (
    _BRIER_CAP,
    _PR_MAX,
    _PR_STEP,
    _kw_arm,
)
from tests.conftest import SF_DIR

registry.load_all()

_CUST_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
    " c_mktsegment string"
)


def _read(name: str):
    return pq.read_table(f"{SF_DIR}/{name}.parquet").to_pandas()


# ------------------------------------------------------ kruskal-wallis


def _kw_expected(groups: dict[str, list[float]]) -> tuple[int, int]:
    """Pure-python Kruskal-Wallis with the EXACT integer conventions of
    the query: cents values, 2r average ranks, per-group floor of
    R2g²·1e6/n_g, floored H quotient, clamp at 0, tie adjustment."""
    cents = {
        g: [round(v * 100) for v in vs] for g, vs in groups.items()
    }
    allv = sorted(v for vs in cents.values() for v in vs)
    n = len(allv)
    marg = Counter(allv)
    less = {}
    run = 0
    for v in sorted(marg):
        less[v] = run
        run += marg[v]
    r2 = {v: 2 * less[v] + marg[v] + 1 for v in marg}
    a = 0
    for vs in cents.values():
        r2g = sum(r2[v] for v in vs)
        a += (r2g * r2g * 1_000_000) // len(vs)
    h6 = max(0, (3 * a) // (n * (n + 1)) - 3 * (n + 1) * 1_000_000)
    t = sum(c * c * c - c for c in marg.values())
    den = (n * n * n - n) - t
    adj = (h6 * (n * n * n - n)) // den if den else None
    return h6, adj


def _stage_cust(spark, tmp_path, groups: dict[str, list[float]]) -> str:
    rows = [
        (i + 1, f"c{i}", 0, v, g)
        for i, (g, v) in enumerate(
            (g, v) for g, vs in sorted(groups.items()) for v in vs
        )
    ]
    spark.createDataFrame(rows, _CUST_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "customer.parquet"))
    return str(tmp_path)


def test_kruskal_identical_groups_h_zero(spark, tmp_path):
    """Same value multiset in every group => all group mean ranks equal
    => H = 0 exactly (the clamp never hides a true positive)."""
    vals = [10.0, 20.0, 20.0, 35.5, 50.0]
    sf = _stage_cust(
        spark, tmp_path, {"A": vals, "B": vals, "C": vals}
    )
    row = _kw_arm(
        spark, sf, "x", "customer", "c_mktsegment", "c_acctbal", 1000
    ).collect()[0]
    assert row["h_e6"] == 0 and row["h_adj_e6"] == 0


def test_kruskal_matches_pure_python(spark, tmp_path):
    """Separated + tied + negative-valued groups reproduce the pure-
    python integer reference bit-for-bit, across rank-bucket widths."""
    groups = {
        "LO": [-9.5, -2.0, 1.25, 1.25, 3.0],
        "MID": [4.0, 5.5, 5.5, 8.0],
        "HI": [9.0, 12.5, 12.5, 12.5, 20.0, 31.0],
    }
    exp_h, exp_adj = _kw_expected(groups)
    for width in (1, 250, 10**9):
        sf = _stage_cust(spark, tmp_path / str(width), groups)
        row = _kw_arm(
            spark, sf, "x", "customer", "c_mktsegment", "c_acctbal", width
        ).collect()[0]
        assert (row["h_e6"], row["h_adj_e6"]) == (exp_h, exp_adj), width
    # sanity on the reference itself: strong separation => large H
    assert exp_h > 5_000_000
    assert exp_adj >= exp_h  # tie correction can only inflate


def test_kruskal_declared_arms_sane(spark):
    """On real testdata: ranks exist for both arms, n/k match the
    tables, and the tie-adjusted H is >= the raw H."""
    rows = registry.QUERIES["q_stats_kruskal_wallis"](
        spark, SF_DIR
    ).collect()
    byname = {r["case_name"]: r for r in rows}
    cust = _read("customer")
    assert byname["acctbal_by_segment"]["n_rows"] == len(cust)
    assert (
        byname["acctbal_by_segment"]["n_groups"]
        == cust["c_mktsegment"].nunique()
    )
    for r in rows:
        assert r["h_e6"] >= 0
        assert r["h_adj_e6"] >= r["h_e6"]


# ------------------------------------------------- brier decomposition


def test_brier_murphy_identity_and_brute_force(spark):
    """brier = rel − res + unc within per-value floor dust, and the
    brier/uncertainty terms match an exact integer recomputation."""
    row = registry.QUERIES["q_quality_brier_decomposition"](
        spark, SF_DIR
    ).collect()[0]
    docs = _read("documents")
    n = len(docs)
    en = (docs["lang"].fillna("") == "en").astype(int)
    m = docs["n_chars"].clip(upper=_BRIER_CAP).astype(int)
    sbr = int(((m - _BRIER_CAP * en) ** 2).sum())
    assert row["n_docs"] == n
    assert row["brier_ppm"] == sbr * 1_000_000 // (n * _BRIER_CAP**2)
    te = int(en.sum())
    assert row["uncertainty_ppm"] == te * (n - te) * 1_000_000 // (n * n)
    # Murphy identity: exact over distinct-forecast bins up to the two
    # per-bin floors (each bin contributes < 1 in the summed e6 units,
    # and the final ppm floors add < 1 each)
    lhs = row["brier_ppm"]
    rhs = (
        row["reliability_ppm"] - row["resolution_ppm"]
        + row["uncertainty_ppm"]
    )
    assert abs(lhs - rhs) <= 3
    # components independently, with the query's exact floor conventions
    agg = defaultdict(lambda: [0, 0])
    for mi, yi in zip(m, en):
        agg[int(mi)][0] += 1
        agg[int(mi)][1] += int(yi)
    srel = sum(
        ((nb * mi - _BRIER_CAP * eb) ** 2 * 1_000_000) // nb
        for mi, (nb, eb) in agg.items()
    )
    sres = sum(
        ((n * eb - nb * te) ** 2 * 1_000_000) // nb
        for _, (nb, eb) in agg.items()
    )
    assert row["reliability_ppm"] == srel // (n * _BRIER_CAP**2)
    assert row["resolution_ppm"] == sres // (n * n * n)


# ------------------------------------------------------------ pr sweep


def test_pr_sweep_matches_brute_force(spark):
    rows = registry.QUERIES["q_quality_pr_threshold_sweep"](
        spark, SF_DIR
    ).collect()
    assert len(rows) == _PR_MAX + 1
    docs = _read("documents")
    en = docs["lang"].fillna("") == "en"
    pos = int(en.sum())
    by_t = {r["threshold_chars"]: r for r in rows}
    prev_recall = None
    for k in range(_PR_MAX + 1):
        t = k * _PR_STEP
        # query predicts on the CAPPED bucket (b >= k), identical to
        # n_chars >= t for every k <= cap
        pred = docs["n_chars"] >= t
        tp = int((en & pred).sum())
        fp = int((~en & pred).sum())
        r = by_t[t]
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, pos - tp)
        assert r["precision_ppm"] == (
            tp * 1_000_000 // (tp + fp) if tp + fp else None
        )
        assert r["recall_ppm"] == (tp * 1_000_000 // pos if pos else None)
        assert r["f1_ppm"] == (
            2 * tp * 1_000_000 // (tp + fp + pos) if tp + fp + pos else None
        )
        if prev_recall is not None and r["recall_ppm"] is not None:
            assert r["recall_ppm"] <= prev_recall  # monotone law
        prev_recall = r["recall_ppm"]
    assert by_t[0]["recall_ppm"] == 1_000_000  # threshold 0 catches all


# -------------------------------------------------- degree distribution


def test_degree_distribution_matches_pandas(spark):
    rows = registry.QUERIES["q_graph_degree_distribution"](
        spark, SF_DIR
    ).collect()
    li = _read("lineitem")[["l_orderkey", "l_suppkey"]]
    o = _read("orders")[["o_orderkey", "o_custkey"]]
    edges = li.merge(
        o, left_on="l_orderkey", right_on="o_orderkey"
    )[["l_suppkey", "o_custkey"]].drop_duplicates()
    deg = edges.groupby("l_suppkey").size()
    exp = defaultdict(lambda: [0, 10**18, 0, 0])
    for d in deg:
        b = int(d).bit_length() - 1
        e = exp[b]
        e[0] += 1
        e[1] = min(e[1], d)
        e[2] = max(e[2], d)
        e[3] += d
    got = {
        r["deg_log2"]: (
            r["n_suppliers"], r["min_degree"], r["max_degree"], r["n_edges"]
        )
        for r in rows
    }
    assert got == {b: tuple(v) for b, v in exp.items()}
    assert sum(v[3] for v in exp.values()) == len(edges)


# ---------------------------------------------------- knn label vote


def test_knn_agreement_matches_sequential_fold(spark):
    """Brute-force recomputation with the SAME left-to-right double
    fold and tie-breaks (cos DESC, neighbor_id; vote count DESC, label
    ASC) — numpy pairwise summation would NOT be a valid oracle here."""
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pydict()
    ids, vecs, labels = emb["vec_id"], emb["embedding"], emb["label"]

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    def nrm(a):
        acc = 0.0
        for x in a:
            acc = acc + float(x) * float(x)
        return acc ** 0.5

    from datawarehouse1_spark.queries.similarity import (
        N_QUERY_VECTORS,
        TOP_K,
    )

    per_label = defaultdict(lambda: [0, 0])
    for qi, qid in enumerate(ids):
        if qid >= N_QUERY_VECTORS:
            continue
        scored = sorted(
            (
                (-dot(vecs[qi], vecs[ci]) / (nrm(vecs[qi]) * nrm(vecs[ci])),
                 ids[ci], labels[ci])
                for ci in range(len(ids))
                if ids[ci] != qid
            ),
        )[:TOP_K]
        votes = Counter(lab for _, _, lab in scored)
        maj = min(votes, key=lambda lab: (-votes[lab], lab))
        per_label[labels[qi]][0] += 1
        per_label[labels[qi]][1] += int(maj == labels[qi])
    rows = registry.QUERIES["q_embedding_knn_label_agreement"](
        spark, SF_DIR
    ).collect()
    got = {r["label"]: (r["n_queries"], r["n_agree"]) for r in rows}
    assert got == {lab: tuple(v) for lab, v in per_label.items()}
    for r in rows:
        assert r["agree_ppm"] == r["n_agree"] * 1_000_000 // r["n_queries"]


# ------------------------------------------------------------ plan pins


def test_r12f_plans_stay_jvm_side(spark):
    for name in (
        "q_stats_kruskal_wallis",
        "q_quality_brier_decomposition",
        "q_quality_pr_threshold_sweep",
        "q_graph_degree_distribution",
        "q_embedding_knn_label_agreement",
    ):
        plan = (
            registry.QUERIES[name](spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_knn_plan_broadcasts_query_side(spark):
    plan = (
        registry.QUERIES["q_embedding_knn_label_agreement"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
