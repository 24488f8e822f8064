"""Round-12 batch-7 law tests: first-principles checks for the
Brown-Forsythe scale test, co-purchase connected components, the TTR
curve, and event-type affinity."""

from __future__ import annotations

from collections import Counter, defaultdict

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datawarehouse1_spark import registry
from datawarehouse1_spark.queries.graph import _COPURCHASE_SUPPORT
from datawarehouse1_spark.queries.stats import _bf_arm
from tests.conftest import SF_DIR

registry.load_all()

_CUST_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
    " c_mktsegment string"
)


def _read(name: str):
    return pq.read_table(f"{SF_DIR}/{name}.parquet").to_pandas()


# -------------------------------------------------------- brown-forsythe


def _bf_expected(groups: dict[str, list[float]]) -> int | None:
    """Pure-python Brown-Forsythe with the query's exact integer
    conventions: cents, two-middle median sum, 2z, per-group floors."""
    cents = {g: sorted(round(v * 100) for v in vs) for g, vs in
             groups.items()}
    n = sum(len(vs) for vs in cents.values())
    k = len(cents)
    s = q = a = 0
    for vs in cents.values():
        ng = len(vs)
        m2 = vs[(ng + 1) // 2 - 1] + vs[ng // 2]
        z2s = [abs(2 * v - m2) for v in vs]
        sg = sum(z2s)
        q += sum(z * z for z in z2s) * 1_000_000
        a += (sg * sg * 1_000_000) // ng
        s += sg
    ssb = max(0, a - (s * s * 1_000_000) // n)
    den = (k - 1) * (q - a)
    return (ssb * (n - k) * 1_000_000) // den if den else None


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


def test_bf_equal_spread_small_wide_spread_large(spark, tmp_path):
    """Groups that are shifted copies (identical spread) give F = 0
    exactly; one group with 100x the spread gives a large F.  Both
    reproduce the pure-python integer reference bit-for-bit, across
    rank-bucket widths."""
    same = {
        "A": [10.0, 11.0, 12.0, 13.0, 14.0],
        "B": [110.0, 111.0, 112.0, 113.0, 114.0],
    }
    exp = _bf_expected(same)
    assert exp == 0  # |x - median| multisets identical => SSB = 0
    sf = _stage_cust(spark, tmp_path / "s", same)
    row = _bf_arm(
        spark, sf, "x", "customer", "c_mktsegment", "c_acctbal", 1000
    ).collect()[0]
    assert row["f_e6"] == exp

    # F is scale-invariant, so a merely-wide group doesn't move it —
    # the strong signal is a group whose |x − median| values are
    # CONSISTENTLY far (tight z spread, shifted z mean)
    wide = {
        "A": [10.0, 10.5, 11.0, 11.5, 12.0],
        "B": [-100.0, -100.0, 0.0, 100.0, 100.0],
    }
    exp_w = _bf_expected(wide)
    assert exp_w is not None and exp_w > 5_000_000
    for width in (1, 777, 10**9):
        sf = _stage_cust(spark, tmp_path / f"w{width}", wide)
        row = _bf_arm(
            spark, sf, "x", "customer", "c_mktsegment", "c_acctbal", width
        ).collect()[0]
        assert row["f_e6"] == exp_w, width


def test_bf_even_odd_median_and_ties(spark, tmp_path):
    """Even-sized groups exercise the two-middle sum (no .5 loss);
    heavy ties exercise the cumulative-range median pick."""
    groups = {
        "E": [1.0, 2.0, 2.0, 7.0],          # even, tied middles
        "O": [3.0, 3.0, 3.0, 9.0, 20.0],    # odd, tied median
        "N": [-5.0, -5.0, 0.25, 0.25],      # negatives + ties
    }
    exp = _bf_expected(groups)
    sf = _stage_cust(spark, tmp_path, groups)
    row = _bf_arm(
        spark, sf, "x", "customer", "c_mktsegment", "c_acctbal", 250
    ).collect()[0]
    assert row["f_e6"] == exp
    assert row["n_rows"] == 13 and row["n_groups"] == 3


def test_bf_declared_arms_sane(spark):
    rows = registry.QUERIES["q_stats_brown_forsythe"](spark, SF_DIR).collect()
    cust = _read("customer")
    byname = {r["case_name"]: r for r in rows}
    assert byname["acctbal_by_segment"]["n_rows"] == len(cust)
    for r in rows:
        assert r["f_e6"] is None or r["f_e6"] >= 0


# ------------------------------------------------- connected components


def test_components_match_union_find(spark):
    """The Spark min-label fixpoint reproduces a plain union-find over
    the same support-filtered edges."""
    li = _read("lineitem")[["l_orderkey", "l_partkey"]].drop_duplicates()
    cnt = Counter()
    for _, grp in li.groupby("l_orderkey"):
        parts = sorted(grp["l_partkey"])
        for i, pa in enumerate(parts):
            for pb in parts[i + 1:]:
                cnt[(pa, pb)] += 1
    edges = [e for e, c in cnt.items() if c >= _COPURCHASE_SUPPORT]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for pa, pb in edges:
        ra, rb = find(pa), find(pb)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes = Counter(find(x) for x in parent)
    exp = Counter(sizes.values())
    rows = registry.QUERIES["q_graph_components_copurchase"](
        spark, SF_DIR
    ).collect()
    got = {r["comp_size"]: r["n_components"] for r in rows}
    assert got == dict(exp)
    for r in rows:
        assert r["n_parts"] == r["comp_size"] * r["n_components"]
        assert r["comp_size"] >= 2  # every node in the graph has an edge


# --------------------------------------------------------------- ttr


def test_ttr_matches_pandas(spark):
    import re

    docs = _read("documents")
    per = defaultdict(lambda: [0, 0, 0, 0])  # docs, toks, types, hapax
    doc_ttrs = defaultdict(list)
    for _, row in docs.iterrows():
        toks = [t for t in re.split(r"[^a-z0-9]+", str(row["text"]).lower())
                if t]
        if not toks:
            continue
        c = Counter(toks)
        b = len(toks).bit_length() - 1
        e = per[b]
        e[0] += 1
        e[1] += len(toks)
        e[2] += len(c)
        e[3] += sum(1 for v in c.values() if v == 1)
        doc_ttrs[b].append(len(c) * 1_000_000 // len(toks))
    rows = registry.QUERIES["q_text_ttr_by_length"](spark, SF_DIR).collect()
    got = {r["len_log2"]: r for r in rows}
    assert set(got) == set(per)
    for b, (nd, nt, ty, hp) in per.items():
        r = got[b]
        assert r["n_docs"] == nd and r["n_tokens"] == nt
        assert r["pooled_ttr_ppm"] == ty * 1_000_000 // nt
        assert r["mean_ttr_ppm"] == sum(doc_ttrs[b]) // nd
        assert r["hapax_rate_ppm"] == hp * 1_000_000 // ty
        assert r["pooled_ttr_ppm"] <= 1_000_000


# ---------------------------------------------------------- affinity


def test_type_affinity_matches_pandas(spark):
    ev = _read("events")[["user_id", "event_type"]].drop_duplicates()
    users_by_type = {
        t: set(g["user_id"]) for t, g in ev.groupby("event_type")
    }
    u = ev["user_id"].nunique()
    types = sorted(users_by_type)
    exp = {}
    for i, ta in enumerate(types):
        for tb in types[i + 1:]:
            both = len(users_by_type[ta] & users_by_type[tb])
            if not both:
                continue
            na, nb = len(users_by_type[ta]), len(users_by_type[tb])
            exp[(ta, tb)] = (
                both, na, nb,
                both * 1_000_000 // (na + nb - both),
                both * u * 1_000_000 // (na * nb),
            )
    rows = registry.QUERIES["q_events_type_affinity"](spark, SF_DIR).collect()
    got = {
        (r["type_a"], r["type_b"]): (
            r["n_both"], r["n_a"], r["n_b"], r["jaccard_ppm"], r["lift_e6"]
        )
        for r in rows
    }
    assert got == exp
    for r in rows:
        assert 0 < r["jaccard_ppm"] <= 1_000_000


# ------------------------------------------------------------ plan pins


def test_r12g_plans_stay_jvm_side(spark):
    for name in (
        "q_stats_brown_forsythe",
        "q_text_ttr_by_length",
        "q_events_type_affinity",
    ):
        plan = (
            registry.QUERIES[name](spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
