"""Pins for accuracy.py (VERDICT r11 #4): the rows-only queries' bench
metrics — coverage (every oracle=None query has a metric), thresholds
(each metric clears the same bar the scattered operator tests assert).
The bench stdout tail budget lives in the fast tier,
tests/test_bench_tail.py."""

from __future__ import annotations

import json

import pytest

from datawarehouse1_spark import accuracy, registry

SF = "/root/testdata/sf0.001"


def test_every_rows_only_query_has_a_metric():
    registry.load_all()
    rows_only = {n for n in registry.QUERIES if n not in registry.ORACLES}
    covered = {k.split(":")[0] for k in accuracy.METRICS}
    assert covered == rows_only, (
        f"metric coverage drift: missing={sorted(rows_only - covered)} "
        f"extra={sorted(covered - rows_only)}"
    )


@pytest.fixture(scope="module")
def measured(spark):
    return accuracy.rows_only_metrics(spark, SF)


# metric key -> (minimum bound, exact pin). Exact pins are laws (perfect
# recall by pigeonhole, exact parity, deterministic decode); minimum
# bounds mirror the operator tests' thresholds on random-ish data.
BOUNDS = {
    # distance-1 multi-probe operating point (r12): 1.0 measured at
    # sf0.001/0.01/0.1 vs 0.725 single-probe
    "q_similarity_lsh_topk:recall": (0.9, None),
    # trained-centroid + index_spill=2 operating point at nprobe=6/16.
    # r14 measured the full (spill, nprobe) -> (recall, scan-fraction)
    # grid (ROUND_NOTES r14): recall 0.869 (sf0.01, 32 queries) / 0.894
    # (sf0.1) at scan-fraction ~0.75. (spill=1, nprobe=12) measures
    # marginally higher recall at the SAME candidate volume (0.913 /
    # 0.975) — near-orthogonal gaussian vectors reward query-side
    # probing — but reads TWICE the lists per query; with lists mapped
    # to storage partitions (the 100 TB layout in ivf_topk's docstring)
    # list-read amplification, not candidate volume, is the binding
    # cost, so (2, 6) is the deliberate knee. Floor 0.85 = measured
    # 0.869 minus ~1 query-sample sigma (32x5 hit samples).
    # r15 (VERDICT r14 #4) re-ran the grid at the PRODUCTION ratio
    # nprobe/n_c ~ 0.05-0.15 (64/128 trained centroids, clustered 10k
    # corpus — ROUND_NOTES r15): spill=2 beats spill=1 at matched
    # candidate volume there too (0.847 vs 0.828 @ frac 0.126) and
    # spill=3 never beats spill=2 at matched volume, so the (spill=2)
    # knee survives in the regime the 100 TB layout occupies;
    # test_r15_hardening.py pins the comparison on seeded data. This
    # bench metric still runs the declared query's (16, 6, 2) point on
    # the gaussian testdata, so the 0.85 floor is unchanged.
    "q_similarity_ivf_topk:recall": (0.85, None),
    "q_dedup_minhash_lsh:recall": (0.8, None),
    "q_dedup_minhash_incremental:parity": (None, 1.0),
    "q_dedup_simhash:copy_rate": (None, 1.0),
    "q_dedup_simhash_neardup:recall": (None, 1.0),
    "q_multimodal_real_decode:ok_rate": (None, 1.0),
    "q_multimodal_features:ok_rate": (None, 1.0),
    "q_multimodal_frame_sample:fanout_ok": (None, 1.0),
    "q_embedding_pca_power:cos_eigh": (0.999, None),
}


def test_metrics_clear_their_pinned_thresholds(measured):
    assert set(measured) == set(accuracy.METRICS)
    failures = []
    for key, (lo, exact) in BOUNDS.items():
        v = measured[key]
        if v is None:
            failures.append(f"{key}: errored (None)")
        elif exact is not None and v != exact:
            failures.append(f"{key}: {v} != pinned {exact}")
        elif lo is not None and v < lo:
            failures.append(f"{key}: {v} < floor {lo}")
    # HLL @ rsd 0.02: 3-sigma-ish ceiling, generous for tiny groups
    err = measured["q_agg_approx_distinct:max_rel_err"]
    if err is None or err > 0.06:
        failures.append(f"q_agg_approx_distinct:max_rel_err: {err} > 0.06")
    assert not failures, failures


def _famstrip(key: str) -> str:
    return key[2:].split("_", 1)[-1]


def test_spread_digits_encoding():
    """spread_ds digits: deciseconds, ceil'd (never understates the
    noise floor), HEX-encoded with cap 'f' (>=1.5 s — r15 raised the
    r14 decimal cap of 9, which pegged during the r14 load ramp), one
    char per query in dict order."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "bench", pathlib.Path(__file__).resolve().parents[1] / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert (
        bench.spread_digits(
            {"a": 0.0, "b": 0.01, "c": 0.1, "d": 0.31, "e": 2.5}
        )
        == "0114f"
    )
    # the new headroom: 0.9-1.5 s spreads are now distinguishable
    assert bench.spread_digits({"x": 0.91, "y": 1.1, "z": 1.49}) == "abf"
    assert bench.spread_digits({}) == ""


def test_famstrip_single_segment():
    """ADVICE r14: q_<single-word> names must not crash the tail
    emission — the family strip falls back to the full stripped name."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "bench", pathlib.Path(__file__).resolve().parents[1] / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    src = (
        pathlib.Path(__file__).resolve().parents[1] / "bench.py"
    ).read_text()
    # the module-level helper in this test file mirrors bench's
    # _famstrip; pin both on the single-segment case
    assert _famstrip("q_flagship") == "flagship"
    assert _famstrip("q_dedup_minhash_lsh") == "minhash_lsh"
    assert 'split("_", 1)[-1]' in src, (
        "bench.py _famstrip must use the [-1] fallback for "
        "single-segment query names"
    )
