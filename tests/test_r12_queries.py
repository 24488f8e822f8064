"""Round-12 batch-1 law tests: first-principles checks for Spearman
rank correlation, per-source ROC-AUC, the k-anonymity report,
FD discovery, and PMI collocations — one independent-implementation
battery per new declared query (the r10 discipline), plus plan-shape
pins for the rules they must obey."""

from __future__ import annotations

import math
import random
import re
from collections import Counter, defaultdict

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datawarehouse1_spark import registry
from datawarehouse1_spark.queries.deciles import running_sum
from datawarehouse1_spark.queries.profiling import _FD_CASES
from datawarehouse1_spark.queries.text import _PMI_MIN_COUNT
from tests.conftest import SF_DIR

registry.load_all()

_LI_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
    " l_quantity double, l_extendedprice double, l_discount double,"
    " l_tax double, l_returnflag string, l_linestatus string,"
    " l_shipdate timestamp_ntz"
)


def _read(name: str):
    return pq.read_table(f"{SF_DIR}/{name}.parquet").to_pandas()


# ------------------------------------------------------------ spearman


def test_rank2_average_ranks(spark):
    """running_sum: 2r = 2·before + c + 1 is 2·avg_rank on a
    hand-checked tied multiset, invariant to the bucket width (the
    two-level cumsum must agree with the naive single-pass ranks
    whatever the bucket split); and on random grouped frames every
    `_before` / `_total` equals a pandas brute force, in both
    directions, for int widths, a per-group width Column, one bucket,
    negative values and empty input."""
    marg = spark.createDataFrame(
        [(10, 2), (20, 3), (30, 1), (45, 4)], "v long, c long"
    )
    expected = {10: 3, 20: 8, 30: 12, 45: 17}  # 2*cnt_less + cnt_eq + 1
    for width in (1, 7, 1000):
        got = {
            r["v"]: 2 * r["c_before"] + r["c"] + 1
            for r in running_sum(marg, "v", ["c"], width).collect()
        }
        assert got == expected, f"width={width}: {got}"

    schema = "g long, v long, w1 long, w2 long"
    cols = ["g", "v", "w1", "w2", "w1_before", "w2_before", "w1_total", "w2_total"]
    rng = random.Random(12)
    mixed = [  # the same v values recur across groups
        (g, v, rng.randint(0, 9), rng.randint(1, 5))
        for g in range(4)
        for v in rng.sample(range(-60, 60), 25)
    ]
    negative = [r for r in mixed if r[1] < 0]  # width 1e9: one bucket
    widths = F.array(*[F.lit(w) for w in (1, 7, 1000, 3)])
    per_group = F.element_at(widths, (F.col("g") + 1).cast("int"))
    for rows in (mixed, negative):
        pdf = pd.DataFrame(rows, columns=["g", "v", "w1", "w2"])
        df = spark.createDataFrame(rows, schema)
        for descending in (False, True):
            want = pdf.sort_values(["g", "v"], ascending=[True, not descending])
            for w in ("w1", "w2"):
                want[f"{w}_before"] = want.groupby("g")[w].cumsum() - want[w]
                want[f"{w}_total"] = want.groupby("g")[w].transform("sum")
            want_rows = sorted(map(tuple, want[cols].values.tolist()))
            for width in (1, 7, 10**9, per_group):
                out = running_sum(
                    df, "v", ["w1", "w2"], width, by=["g"], descending=descending
                )
                assert out.columns == cols
                got = sorted(tuple(r) for r in out.collect())
                assert got == want_rows, (descending, width)

    empty = spark.createDataFrame([], schema)
    assert running_sum(empty, "v", ["w1"], 7, by=["g"]).collect() == []


def _stage_li(spark, tmp_path, rows):
    full = [
        (i + 1, 1, 1, 1, float(q), float(p), 0.01, 0.02, "N", "O", None)
        for i, (q, p) in enumerate(rows)
    ]
    spark.createDataFrame(full, _LI_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def test_spearman_monotone_extremes(spark, tmp_path):
    """rho6 = ±1 for strictly monotone (non-linear) relations — the
    defining property Pearson lacks."""
    up = [(q, q**3 + 0.25) for q in range(1, 21)]
    sf = _stage_li(spark, tmp_path, up)
    rows = {
        (r["col_x"], r["col_y"]): r["rho6"]
        for r in registry.QUERIES["q_stats_spearman_rho"](spark, sf).collect()
    }
    assert rows[("l_quantity", "l_extendedprice")] == 1.0
    # constant discount/tax => zero variance => NULL, never a crash
    assert rows[("l_discount", "l_tax")] is None

    down = [(q, 10000.0 - q**3) for q in range(1, 21)]
    sf = _stage_li(spark, tmp_path / "d", down)
    rows = {
        (r["col_x"], r["col_y"]): r["rho6"]
        for r in registry.QUERIES["q_stats_spearman_rho"](spark, sf).collect()
    }
    assert rows[("l_quantity", "l_extendedprice")] == -1.0


def test_spearman_ties_match_reference_formula(spark):
    """The helper's tie-corrected rho equals Pearson on average ranks
    computed independently (pandas rank) over the real sf0.001 fact."""
    li = _read("lineitem")
    for x, y in (("l_quantity", "l_extendedprice"), ("l_discount", "l_tax")):
        rx = (li[x].round(2) * 100).round().astype("int64").rank(method="average")
        ry = (li[y].round(2) * 100).round().astype("int64").rank(method="average")
        r2x = (2 * rx).round().astype("int64")
        r2y = (2 * ry).round().astype("int64")
        n = len(li)
        sx, sy = int(r2x.sum()), int(r2y.sum())
        sxx = int((r2x * r2x).sum())
        syy = int((r2y * r2y).sum())
        sxy = int((r2x * r2y).sum())
        rho = (n * sxy - sx * sy) / math.sqrt(n * sxx - sx * sx) / math.sqrt(
            n * syy - sy * sy
        )
        got = {
            (r["col_x"], r["col_y"]): r["rho6"]
            for r in registry.QUERIES["q_stats_spearman_rho"](
                spark, SF_DIR
            ).collect()
        }[(x, y)]
        assert math.isclose(got, rho, abs_tol=2e-6), (x, y, got, rho)


def test_spearman_pair_helper_self_correlation(spark, tmp_path):
    """rho(x, x) through the full joint-distribution machinery of
    q_stats_spearman_rho is exactly 1 even with heavy ties."""
    rows = [(q % 5 + 1, q % 5 + 1) for q in range(40)]
    sf = _stage_li(spark, tmp_path, rows)
    got = {
        (r["col_x"], r["col_y"]): r["rho6"]
        for r in registry.QUERIES["q_stats_spearman_rho"](spark, sf).collect()
    }
    assert got[("l_quantity", "l_extendedprice")] == 1.0


# ------------------------------------------------------------ ROC-AUC


def test_auc_matches_bruteforce():
    """auc_e6 equals the independent average-rank AUC (pandas ranks,
    exact integer floor) per source, and sits in [0, 1e6]."""
    docs = _read("documents")
    docs["pos"] = docs["lang"].fillna("") == "en"
    expected = {}
    for src, g in docs.groupby("source"):
        r2 = (2 * g["n_chars"].rank(method="average")).round().astype("int64")
        n1 = int(g["pos"].sum())
        n0 = int((~g["pos"]).sum())
        s2r = int(r2[g["pos"]].sum())
        auc = (
            None
            if n1 * n0 == 0
            else ((s2r - n1 * (n1 + 1)) * 500000) // (n1 * n0)
        )
        expected[src] = (n1, n0, auc)
    import duckdb  # noqa: F401  (env parity with conftest)

    from datawarehouse1_spark import get_spark

    spark = get_spark("datawarehouse1-tests")
    got = {
        r["source"]: (r["n_pos"], r["n_neg"], r["auc_e6"])
        for r in registry.QUERIES["q_quality_auc_by_source"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    for _, _, auc in got.values():
        assert auc is None or 0 <= auc <= 1_000_000


# ------------------------------------------------------- k-anonymity


def test_k_anonymity_matches_bruteforce(spark):
    cust = _read("customer")
    cust["delinq"] = cust["c_acctbal"] < 0
    sizes = cust.groupby(["c_mktsegment", "c_nationkey"]).agg(
        s=("c_custkey", "size"), ldiv=("delinq", "nunique")
    )
    buckets = defaultdict(lambda: [0, 0, 10**9, 0, 10**9])
    for _, row in sizes.iterrows():
        s, ldiv = int(row["s"]), int(row["ldiv"])
        b = buckets[s.bit_length() - 1]  # floor(log2 s)
        b[0] += 1
        b[1] += s
        b[2] = min(b[2], s)
        if s < 5:
            b[3] += s
        b[4] = min(b[4], ldiv)
    total = sum(b[1] for b in buckets.values())
    expected = {
        k: (
            b[0],
            b[1],
            b[1] * 1_000_000 // total,
            b[2],
            b[3],
            b[4],
        )
        for k, b in buckets.items()
    }
    got = {
        r["size_log2"]: (
            r["n_classes"],
            r["n_rows"],
            r["rows_ppm"],
            r["min_size"],
            r["n_rows_at_risk"],
            r["min_l_div"],
        )
        for r in registry.QUERIES["q_privacy_k_anonymity"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    assert sum(v[1] for v in got.values()) == len(cust)


# ------------------------------------------------------ FD discovery


def test_fd_discovery_matches_bruteforce(spark):
    got = {
        (r["tbl"], r["det"], r["dep"]): (
            r["n_det"],
            r["n_pairs"],
            r["n_violating_dets"],
            r["holds"],
        )
        for r in registry.QUERIES["q_profile_fd_discovery"](
            spark, SF_DIR
        ).collect()
    }
    assert len(got) == len(_FD_CASES)
    for tbl, det, dep in _FD_CASES:
        df = _read(tbl)
        grp = df.groupby(list(det))[dep].nunique()
        n_det = int(len(grp))
        n_pairs = int(grp.sum())
        viol = int((grp > 1).sum())
        assert got[(tbl, "+".join(det), dep)] == (
            n_det,
            n_pairs,
            viol,
            viol == 0,
        ), (tbl, det, dep)
    # the two true keys of the synthetic schema must verify
    assert got[("orders", "o_orderkey", "o_custkey")][3] is True
    assert got[("customer", "c_custkey", "c_mktsegment")][3] is True


def test_fd_plan_has_no_expand(spark):
    """Rule 4: the per-case countDistinct must plan as a two-level
    partial distinct, never an Expand over the fact."""
    plan = (
        registry.QUERIES["q_profile_fd_discovery"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan


# -------------------------------------------------- PMI collocations


def test_pmi_matches_bruteforce(spark):
    docs = _read("documents")
    uni: Counter = Counter()
    big: Counter = Counter()
    for text in docs["text"]:
        toks = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]
        uni.update(toks)
        big.update(
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        )
    n_bi = sum(big.values())
    scored = []
    for bg, c_xy in big.items():
        if c_xy < _PMI_MIN_COUNT:
            continue
        w1, w2 = bg.split(" ")
        lift = c_xy * n_bi * 1_000_000 // (uni[w1] * uni[w2])
        scored.append((-lift, bg, c_xy, uni[w1], uni[w2]))
    scored.sort()
    expected = [
        (bg, c_xy, c1, c2, -neg) for neg, bg, c_xy, c1, c2 in scored[:20]
    ]
    got = [
        (r["bigram"], r["n_pair"], r["n_w1"], r["n_w2"], r["lift_e6"])
        for r in registry.QUERIES["q_text_collocations_pmi"](
            spark, SF_DIR
        ).collect()
    ]
    assert got == expected


def test_pmi_plan_stays_jvm_side(spark):
    plan = (
        registry.QUERIES["q_text_collocations_pmi"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan


def test_pmi_results_respect_min_count_and_order(spark):
    rows = registry.QUERIES["q_text_collocations_pmi"](
        spark, SF_DIR
    ).collect()
    assert all(r["n_pair"] >= _PMI_MIN_COUNT for r in rows)
    lifts = [(r["lift_e6"], r["bigram"]) for r in rows]
    assert lifts == sorted(lifts, key=lambda t: (-t[0], t[1]))


# ---------------------------------------------------- batch 2 laws

_EV_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string,"
    " value double, props string"
)


def _stage_events(spark, tmp_path, rows):
    spark.createDataFrame(rows, _EV_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_markov_period_two_chain(spark, tmp_path):
    """A↔B alternating chain: P swaps the masses exactly, so the 8-step
    iterate from uniform is exactly (0.5, 0.5) — no floor loss."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(3):
        for i in range(10):
            rows.append(
                (
                    u * 100 + i,
                    t0 + dt.timedelta(minutes=i),
                    u,
                    "A" if i % 2 == 0 else "B",
                    1.0,
                    "{}",
                )
            )
    sf = _stage_events(spark, tmp_path, rows)
    got = {
        r["state"]: r["stationary_e6"]
        for r in registry.QUERIES["q_events_markov_stationary"](
            spark, sf
        ).collect()
    }
    assert got == {"A": 500000, "B": 500000}


def test_markov_absorbing_state(spark, tmp_path):
    """B→A and A→A only: all mass reaches A after one step and stays;
    B receives none and drops out of the iterate."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    # user 0: B A A A ... (B->A, then A->A)
    rows = [(0, t0, 0, "B", 1.0, "{}")]
    rows += [
        (i, t0 + dt.timedelta(minutes=i), 0, "A", 1.0, "{}")
        for i in range(1, 8)
    ]
    sf = _stage_events(spark, tmp_path, rows)
    got = {
        r["state"]: r["stationary_e6"]
        for r in registry.QUERIES["q_events_markov_stationary"](
            spark, sf
        ).collect()
    }
    assert got == {"A": 1000000}


def test_markov_mass_conservation(spark):
    """Floor losses are bounded: the 8-step masses still sum to 1e6
    within a few units per state on the real chain."""
    rows = registry.QUERIES["q_events_markov_stationary"](
        spark, SF_DIR
    ).collect()
    total = sum(r["stationary_e6"] for r in rows)
    assert 1_000_000 - 10 * len(rows) <= total <= 1_000_000


def test_new_vs_returning_matches_bruteforce(spark):
    orders = _read("orders").sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    orders["rn"] = orders.groupby("o_custkey").cumcount() + 1
    orders["ym"] = (
        orders["o_orderdate"].dt.year * 100 + orders["o_orderdate"].dt.month
    )
    orders["cents"] = (orders["o_totalprice"].round(2) * 100).round().astype(
        "int64"
    )
    expected = {}
    for ym, g in orders.groupby("ym"):
        new = g[g["rn"] == 1]
        rep = g[g["rn"] > 1]
        nc, rc = int(new["cents"].sum()), int(rep["cents"].sum())
        expected[int(ym)] = (
            len(new),
            len(rep),
            nc,
            rc,
            None if nc + rc == 0 else nc * 1_000_000 // (nc + rc),
        )
    got = {}
    for r in registry.QUERIES["q_orders_new_vs_returning"](
        spark, SF_DIR
    ).collect():
        got[r["ym"]] = (
            r["n_new_orders"],
            r["n_repeat_orders"],
            round(r["new_revenue"] * 100),
            round(r["repeat_revenue"] * 100),
            r["new_share_e6"],
        )
    assert got == expected
    # every customer contributes exactly one first order overall
    assert sum(v[0] for v in got.values()) == orders["o_custkey"].nunique()


def test_simpson_extremes(spark, tmp_path):
    rows = [
        (1, "spam spam spam spam", "en", "srcA", 19),
        (2, "alpha beta gamma delta", "en", "srcB", 22),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["source"]: r["simpson_e6"]
        for r in registry.QUERIES["q_text_simpson_diversity"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {"srcA": 1_000_000, "srcB": 0}


def test_simpson_matches_bruteforce(spark):
    docs = _read("documents")
    per_src = defaultdict(Counter)
    for src, text in zip(docs["source"], docs["text"]):
        toks = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]
        per_src[src].update(toks)
    expected = {}
    for src, cnt in per_src.items():
        n = sum(cnt.values())
        s2 = sum(c * (c - 1) for c in cnt.values())
        expected[src] = (
            n,
            len(cnt),
            None if n <= 1 else s2 * 1_000_000 // (n * (n - 1)),
        )
    got = {
        r["source"]: (r["n_tokens"], r["vocab"], r["simpson_e6"])
        for r in registry.QUERIES["q_text_simpson_diversity"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected


def test_dow_chisq_matches_bruteforce(spark):
    ev = _read("events")
    days = (ev["ts"].dt.normalize() - __import__("pandas").Timestamp("1970-01-01")).dt.days
    ev = ev.assign(dow=(days + 4) % 7)
    expected = {}
    for et, g in ev.groupby("event_type"):
        n = len(g)
        counts = g["dow"].value_counts()
        sq = sum((7 * int(c) - n) ** 2 for c in counts)
        sq += (7 - len(counts)) * n * n
        expected[et] = (n, sq * 1_000_000 // (7 * n))
    got = {
        r["event_type"]: (r["n_events"], r["chisq_e6"])
        for r in registry.QUERIES["q_events_dow_uniformity_chisq"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected


def test_dow_chisq_extremes(spark, tmp_path):
    """All events on ONE weekday: chi² = 6N·1e6 exactly; a perfectly
    uniform week: chi² = 0."""
    import datetime as dt

    one_day = [
        (i, dt.datetime(2024, 1, 1, 10, i), i, "burst", 1.0, "{}")
        for i in range(10)
    ]
    uniform = [
        (100 + d, dt.datetime(2024, 1, 1 + d, 9, 0), 100 + d, "flat", 1.0, "{}")
        for d in range(7)
    ]
    sf = _stage_events(spark, tmp_path, one_day + uniform)
    got = {
        r["event_type"]: r["chisq_e6"]
        for r in registry.QUERIES["q_events_dow_uniformity_chisq"](
            spark, sf
        ).collect()
    }
    assert got == {"burst": 6 * 10 * 1_000_000, "flat": 0}


# ---------------------------------------------------- batch 3 laws

from datawarehouse1_spark.queries.profiling import (  # noqa: E402
    _ADVISOR_ROWS_PER_FILE,
)
from datawarehouse1_spark.queries.stats import _CAL_BIN  # noqa: E402
from datawarehouse1_spark.queries.text import (  # noqa: E402
    _RAKE_MAX_LEN,
    _RAKE_STOP,
    _RAKE_TOP_K,
)


def test_rake_matches_bruteforce(spark):
    docs = _read("documents")
    stop = set(_RAKE_STOP)
    phrases = []  # (phrase_words,) occurrences
    for text in docs["text"]:
        toks = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]
        run = []
        for w in toks + ["the"]:  # sentinel flushes the last run
            if w in stop:
                if run and len(run) <= _RAKE_MAX_LEN:
                    phrases.append(tuple(run))
                run = []
            else:
                run.append(w)
    freq, deg = Counter(), Counter()
    for p in phrases:
        for w in p:
            freq[w] += 1
            deg[w] += len(p)
    ws = {w: deg[w] * 1_000_000 // freq[w] for w in freq}
    scored = Counter()
    score_of = {}
    for p in phrases:
        txt = " ".join(p)
        scored[txt] += 1
        score_of[txt] = sum(ws[w] for w in p)
    top = sorted(
        ((txt, n, score_of[txt]) for txt, n in scored.items()),
        key=lambda t: (-t[2], t[0]),
    )[:_RAKE_TOP_K]
    got = [
        (r["phrase"], r["n_occurrences"], r["score_e6"])
        for r in registry.QUERIES["q_text_keyphrases_rake"](
            spark, SF_DIR
        ).collect()
    ]
    assert got == top
    for phrase, _, _ in got:
        assert not (set(phrase.split()) & stop)
        assert 1 <= len(phrase.split()) <= _RAKE_MAX_LEN


def test_fano_matches_bruteforce(spark):
    ev = _read("events")
    dates = ev["ts"].dt.normalize()
    span = int((dates.max() - dates.min()).days) + 1
    expected = {}
    for et, g in ev.groupby("event_type"):
        daily = g["ts"].dt.normalize().value_counts()
        s = int(daily.sum())
        q = int((daily * daily).sum())
        expected[et] = (span, s, (span * q - s * s) * 1_000_000 // (span * s))
    got = {
        r["event_type"]: (r["n_days"], r["n_events"], r["fano_e6"])
        for r in registry.QUERIES["q_events_fano_burstiness"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected


def test_fano_extremes(spark, tmp_path):
    """A perfectly steady daily stream has F=0; a one-day burst over an
    n-day span has F = N(n-1)/n exactly."""
    import datetime as dt

    flat = [
        (d, dt.datetime(2024, 1, 1 + d, 9, 0), d, "flat", 1.0, "{}")
        for d in range(7)
    ]
    burst = [
        (100 + i, dt.datetime(2024, 1, 1, 10, i), 100 + i, "burst", 1.0, "{}")
        for i in range(10)
    ]
    sf = _stage_events(spark, tmp_path, flat + burst)
    got = {
        r["event_type"]: r["fano_e6"]
        for r in registry.QUERIES["q_events_fano_burstiness"](
            spark, sf
        ).collect()
    }
    # burst: (7*100 - 100)*1e6 // (7*10)
    assert got == {"flat": 0, "burst": (7 * 100 - 100) * 1_000_000 // 70}


def test_sort_advisor_matches_bruteforce(spark):
    li = _read("lineitem")
    r = _ADVISOR_ROWS_PER_FILE
    cases = {
        "l_partkey": li["l_partkey"],
        "l_suppkey": li["l_suppkey"],
        "l_orderkey": li["l_orderkey"],
        "l_shipdate": (
            li["l_shipdate"].dt.normalize()
            - __import__("pandas").Timestamp("1970-01-01")
        ).dt.days,
    }
    expected = {}
    for label, col in cases.items():
        counts = col.value_counts()
        n = int(counts.sum())
        nd = int(len(counts))
        nft = (n + r - 1) // r
        fsum = int(sum((int(c) + r - 1) // r + 1 for c in counts))
        expected[label] = (
            n,
            nd,
            nft,
            fsum * 1_000_000 // nd,
            max(0, 1_000_000 - fsum * 1_000_000 // (nd * nft)),
        )
    got = {
        r_["col"]: (
            r_["n_rows"],
            r_["n_distinct"],
            r_["n_files_total"],
            r_["avg_files_per_value_e6"],
            r_["prune_score_e6"],
        )
        for r_ in registry.QUERIES["q_layout_sort_advisor"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected


def test_sort_advisor_prefers_selective_key(spark, tmp_path):
    """Staged 5-file fact: a unique key scores 1e6·(1−2/5); a constant
    column is hopeless and clamps to 0."""
    n = 5 * _ADVISOR_ROWS_PER_FILE
    df = spark.range(n).selectExpr(
        "id AS l_orderkey",
        "CAST(1 AS LONG) AS l_partkey",  # constant: worst key
        "CAST(id % 7 AS LONG) AS l_suppkey",
        "CAST(1 AS INT) AS l_linenumber",
        "CAST(1.0 AS DOUBLE) AS l_quantity",
        "CAST(2.0 AS DOUBLE) AS l_extendedprice",
        "CAST(0.01 AS DOUBLE) AS l_discount",
        "CAST(0.02 AS DOUBLE) AS l_tax",
        "'N' AS l_returnflag",
        "'O' AS l_linestatus",
        "CAST('2024-01-01' AS TIMESTAMP_NTZ) AS l_shipdate",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = {
        r["col"]: r["prune_score_e6"]
        for r in registry.QUERIES["q_layout_sort_advisor"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["l_orderkey"] == 1_000_000 - 2 * 1_000_000 // 5
    assert got["l_partkey"] == 0  # ceil(n/R)+1 = 6 files > 5 total -> clamp
    # a 7-value key whose values each fit in one file ties the unique
    # key under the point-lookup model (both touch <=2 of 5 files)
    assert got["l_orderkey"] >= got["l_suppkey"] > got["l_partkey"]


def test_calibration_matches_bruteforce(spark):
    docs = _read("documents")
    docs["en"] = docs["lang"].fillna("") == "en"
    docs["bin_lo"] = (docs["n_chars"] // _CAL_BIN) * _CAL_BIN
    td, te = len(docs), int(docs["en"].sum())
    expected = {}
    for b, g in docs.groupby("bin_lo"):
        nd, ne = len(g), int(g["en"].sum())
        expected[int(b)] = (
            nd,
            ne,
            ne * 1_000_000 // nd,
            None if te == 0 else ne * td * 1_000_000 // (nd * te),
        )
    got = {
        r["bin_lo"]: (r["n_docs"], r["n_en"], r["en_rate_ppm"], r["lift_e6"])
        for r in registry.QUERIES["q_quality_calibration_bins"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    assert sum(v[0] for v in got.values()) == td


# ---------------------------------------------------- batch 4 laws

_ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp_ntz,"
    " o_orderpriority string"
)


def test_hazard_matches_bruteforce(spark):
    orders = _read("orders").sort_values(
        ["o_custkey", "o_orderdate", "o_orderkey"]
    )
    orders["rn"] = orders.groupby("o_custkey").cumcount() + 1
    horizon = orders["o_orderdate"].dt.normalize().max()
    firsts = orders[orders["rn"] == 1].set_index("o_custkey")["o_orderdate"]
    seconds = orders[orders["rn"] == 2].set_index("o_custkey")["o_orderdate"]
    weekly_conv, weekly_cens = Counter(), Counter()
    for cust, fd in firsts.items():
        if cust in seconds.index:
            wk = (
                seconds[cust].normalize() - fd.normalize()
            ).days // 7
            weekly_conv[wk] += 1
        else:
            wk = (horizon - fd.normalize()).days // 7
            weekly_cens[wk] += 1
    weeks = sorted(set(weekly_conv) | set(weekly_cens))
    expected = {}
    for k in weeks:
        at_risk = sum(
            weekly_conv[j] + weekly_cens[j] for j in weeks if j >= k
        )
        expected[k] = (
            at_risk,
            weekly_conv[k],
            weekly_cens[k],
            weekly_conv[k] * 1_000_000 // at_risk,
        )
    got = {
        r["week"]: (
            r["n_at_risk"],
            r["n_convert"],
            r["n_censored"],
            r["hazard_ppm"],
        )
        for r in registry.QUERIES["q_orders_conversion_hazard"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    # at_risk at the earliest week covers every customer exactly once
    assert got[min(got)][0] == orders["o_custkey"].nunique()


def test_hazard_staged_hand_computed(spark, tmp_path):
    """3 customers: B converts in week 0, A in week 1, C is censored
    (single order) — the at-risk ladder and hazards computed by hand."""
    import datetime as dt

    d = dt.datetime
    rows = [
        (1, 10, "O", 10.0, d(2024, 1, 1), "1-URGENT"),   # A first
        (2, 10, "O", 10.0, d(2024, 1, 9), "1-URGENT"),   # A second: wk 1
        (3, 20, "O", 10.0, d(2024, 1, 1), "1-URGENT"),   # B first
        (4, 20, "O", 10.0, d(2024, 1, 3), "1-URGENT"),   # B second: wk 0
        (5, 30, "O", 10.0, d(2024, 1, 1), "1-URGENT"),   # C only order
    ]
    spark.createDataFrame(rows, _ORDERS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))
    got = {
        r["week"]: (
            r["n_at_risk"],
            r["n_convert"],
            r["n_censored"],
            r["hazard_ppm"],
        )
        for r in registry.QUERIES["q_orders_conversion_hazard"](
            spark, str(tmp_path)
        ).collect()
    }
    # horizon = 2024-01-09; C censored at week (8 days)//7 = 1
    assert got == {
        0: (3, 1, 0, 333333),
        1: (2, 1, 1, 500000),
    }


def test_cramers_v_matches_bruteforce(spark):
    cust = _read("customer")
    obs = Counter(zip(cust["c_mktsegment"], cust["c_nationkey"]))
    ra = Counter(cust["c_mktsegment"])
    cb = Counter(cust["c_nationkey"])
    n = len(cust)
    chi2 = 0
    for a in ra:
        for b in cb:
            o = obs.get((a, b), 0)
            dev = o * n - ra[a] * cb[b]
            chi2 += dev * dev * 1_000_000 // (n * ra[a] * cb[b])
    k = min(len(ra) - 1, len(cb) - 1)
    v = math.sqrt(chi2 / 1_000_000 / (n * k))
    row = registry.QUERIES["q_stats_cramers_v"](spark, SF_DIR).collect()[0]
    assert row["n_rows"] == n
    assert row["n_segments"] == len(ra)
    assert row["n_nations"] == len(cb)
    assert row["chi2_e6"] == chi2
    assert math.isclose(row["cramers_v6"], v, abs_tol=2e-6)


def test_cramers_v_extremes(spark, tmp_path):
    """Independent columns → V = 0; a segment that determines the
    nation → V = 1 (2×2, equal masses: chi2_e6 = n·1e6 exactly)."""
    import datetime as dt  # noqa: F401

    schema = (
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string"
    )
    # independent: every (seg, nation) combo has the same count
    indep = [
        (i, f"c{i}", i % 2, 100.0, "AB"[(i // 2) % 2])
        for i in range(40)
    ]
    spark.createDataFrame(indep, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "customer.parquet"))
    row = registry.QUERIES["q_stats_cramers_v"](
        spark, str(tmp_path)
    ).collect()[0]
    assert row["chi2_e6"] == 0 and row["cramers_v6"] == 0.0

    assoc = [
        (i, f"c{i}", i % 2, 100.0, "AB"[i % 2]) for i in range(40)
    ]
    spark.createDataFrame(assoc, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "customer.parquet"))
    row = registry.QUERIES["q_stats_cramers_v"](
        spark, str(tmp_path)
    ).collect()[0]
    assert row["chi2_e6"] == 40 * 1_000_000
    assert row["cramers_v6"] == 1.0


def test_heaps_matches_bruteforce(spark):
    docs = _read("documents")
    doc_toks, first_seen = {}, {}
    for did, text in zip(docs["doc_id"], docs["text"]):
        toks = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]
        doc_toks[int(did)] = len(toks)
        for w in toks:
            if w not in first_seen or int(did) < first_seen[w]:
                first_seen[w] = int(did)
    tok_b, voc_b = Counter(), Counter()
    for did, nt in doc_toks.items():
        tok_b[(did + 1).bit_length() - 1] += nt
    for w, fd in first_seen.items():
        voc_b[(fd + 1).bit_length() - 1] += 1
    pts = []
    ct = cv = 0
    for bk in sorted(tok_b):
        ct += tok_b[bk]
        cv += voc_b.get(bk, 0)
        if ct >= 1 and cv >= 1:
            pts.append((ct.bit_length() - 1, cv.bit_length() - 1))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    syy = sum(y * y for _, y in pts)
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    row = registry.QUERIES["q_text_heaps_fit"](spark, SF_DIR).collect()[0]
    assert row["n_points"] == n
    assert math.isclose(row["beta6"], beta, abs_tol=2e-6)


def test_heaps_linear_growth_extreme(spark, tmp_path):
    """Every doc contributes exactly 2 new words and 4 tokens → vocab
    grows linearly with tokens → beta = 1, perfect fit."""
    rows = [
        (i, f"a{i} b{i} a{i} b{i}", "en", "src", 11) for i in range(32)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    row = registry.QUERIES["q_text_heaps_fit"](
        spark, str(tmp_path)
    ).collect()[0]
    assert row["beta6"] == 1.0 and row["r2_6"] == 1.0


def test_vocab_coverage_matches_bruteforce(spark):
    docs = _read("documents")
    tf: Counter = Counter()
    for text in docs["text"]:
        tf.update(
            t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t
        )
    spectrum = defaultdict(lambda: [0, 0])
    for _, c in tf.items():
        b = spectrum[c.bit_length() - 1]
        b[0] += 1
        b[1] += c
    total = sum(v[1] for v in spectrum.values())
    expected, cum_t, cum_m = {}, 0, 0
    for bk in sorted(spectrum, reverse=True):
        cum_t += spectrum[bk][0]
        cum_m += spectrum[bk][1]
        expected[bk] = (
            spectrum[bk][0],
            spectrum[bk][1],
            cum_t,
            cum_m * 1_000_000 // total,
        )
    got = {
        r["count_log2"]: (
            r["n_types"],
            r["mass"],
            r["cum_types"],
            r["coverage_ppm"],
        )
        for r in registry.QUERIES["q_text_vocab_coverage"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    # the least-frequent bucket closes the mass exactly
    assert got[min(got)][3] == 1_000_000


# ---------------------------------------------------- batch 5 laws


def test_eta_squared_matches_bruteforce(spark):
    cases = {
        "acctbal_by_segment": ("customer", "c_mktsegment", "c_acctbal"),
        "totalprice_by_priority": ("orders", "o_orderpriority", "o_totalprice"),
    }
    expected = {}
    for label, (tbl, grp, num) in cases.items():
        df = _read(tbl)
        cents = (df[num].round(2) * 100).round().astype("int64")
        g = cents.groupby(df[grp])
        n = len(df)
        s = int(cents.sum())
        q = int((cents * cents).sum())
        a = sum(
            int(sg) * int(sg) * n // int(ng)
            for sg, ng in zip(g.sum(), g.size())
        )
        den = n * q - s * s
        eta = None if den == 0 else max(0, a - s * s) * 1_000_000 // den
        expected[label] = (n, int(g.size().shape[0]), eta)
    got = {
        r["case_name"]: (r["n_rows"], r["n_groups"], r["eta2_e6"])
        for r in registry.QUERIES["q_stats_eta_squared"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    for _, _, eta in got.values():
        assert eta is None or 0 <= eta <= 1_000_000


def test_eta_squared_extremes(spark, tmp_path):
    """Group determines the value exactly → η² = 1e6 (no floor loss:
    the per-group division is exact); a constant column → NULL."""
    schema = (
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string"
    )
    determined = [
        (i, f"c{i}", 1, float(100 * (i % 3)), "ABC"[i % 3])
        for i in range(30)
    ]
    spark.createDataFrame(determined, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "customer.parquet"))
    # the orders arm still needs its table: reuse the real one via a
    # symlink-free copy of the sf0.001 orders parquet
    import os
    import shutil

    src = f"{SF_DIR}/orders.parquet"
    dst = str(tmp_path / "orders.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
    got = {
        r["case_name"]: r["eta2_e6"]
        for r in registry.QUERIES["q_stats_eta_squared"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["acctbal_by_segment"] == 1_000_000

    constant = [(i, f"c{i}", 1, 42.0, "ABC"[i % 3]) for i in range(30)]
    spark.createDataFrame(constant, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "customer.parquet"))
    got = {
        r["case_name"]: r["eta2_e6"]
        for r in registry.QUERIES["q_stats_eta_squared"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["acctbal_by_segment"] is None


def test_seasonal_backtest_matches_bruteforce(spark):
    orders = _read("orders")
    orders["m_idx"] = (
        orders["o_orderdate"].dt.year * 12 + orders["o_orderdate"].dt.month
    )
    orders["ym"] = (
        orders["o_orderdate"].dt.year * 100 + orders["o_orderdate"].dt.month
    )
    orders["cents"] = (
        (orders["o_totalprice"].round(2) * 100).round().astype("int64")
    )
    monthly = orders.groupby(["m_idx", "ym"])["cents"].sum().reset_index()
    by_idx = dict(zip(monthly["m_idx"], monthly["cents"]))
    ym_of = dict(zip(monthly["m_idx"], monthly["ym"]))
    expected = {}
    for m, cur in by_idx.items():
        if m - 12 in by_idx:
            prev = by_idx[m - 12]
            expected[int(ym_of[m])] = (
                int(cur),
                int(prev),
                abs(int(cur) - int(prev)) * 1_000_000 // int(cur),
            )
    got = {
        r["ym"]: (
            round(r["actual_revenue"] * 100),
            round(r["forecast_revenue"] * 100),
            r["ape_ppm"],
        )
        for r in registry.QUERIES["q_orders_seasonal_naive_backtest"](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    assert len(got) > 0  # the corpus spans > 1 year
