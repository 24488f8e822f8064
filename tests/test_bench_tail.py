"""The bench stdout tail contract, default tier: the driver records
exactly the last 2000 stdout chars and parses only the final line, so
that line must fit whole, and its flat per-query map must never merge
two queries under one short name."""

from __future__ import annotations

import importlib.util
import json
import pathlib

from datawarehouse1_spark import accuracy

BENCH_PY = pathlib.Path(__file__).resolve().parents[1] / "bench.py"


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", BENCH_PY)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


bench = _load_bench()


def test_bench_tail_lines_fit_driver_budget():
    """The driver records EXACTLY the last 2000 stdout chars (measured
    on BENCH_r12) and parses only the final line; simulate that line
    with worst-case realistic widths (9.99 s per query — current max is
    5.3 s and a 10 s query is already a flagged regression; 4-decimal
    metrics; totals 3-digit) and assert it fits whole with headroom."""
    import ast

    src = BENCH_PY.read_text()
    names = {}
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.targets[0], ast.Name)
            and node.targets[0].id in ("HEADLINE", "LLM", "ANALYTICS")
        ):
            names[node.targets[0].id] = ast.literal_eval(node.value)
    # the family-segment strip must stay collision-free per section
    for group in ("LLM", "HEADLINE", "ANALYTICS"):
        stripped = [bench._famstrip(k) for k in names[group]]
        assert len(set(stripped)) == len(stripped), group
    mstripped = [bench._famstrip(k) for k in accuracy.METRICS]
    assert len(set(mstripped)) == len(mstripped)
    # the final line's flat per_query map spans ALL sections, so the
    # strip must be collision-free ACROSS sections too (a collision
    # would fall back to the full name — allowed, but budget-modeled
    # here as the stripped name, so keep it collision-free)
    all_stripped = [
        bench._famstrip(k)
        for g in ("HEADLINE", "LLM", "ANALYTICS")
        for k in names[g]
    ]
    assert len(set(all_stripped)) == len(all_stripped)
    final = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": 999.9999,
            "unit": "sec",
            "sf": 0.1,
            "tpch_total": 999.9999,
            "llm_total": 999.9999,
            # per-section canaries from r15 (VERDICT r14 #2)
            "canary": {
                "h": 9.9999,
                "t": 9.9999,
                "l": 9.9999,
                "a": 9.9999,
            },
            "per_query": {
                **{
                    bench._famstrip(k): 9.99
                    for g in ("HEADLINE", "LLM", "ANALYTICS")
                    for k in names[g]
                },
                **{str(i): 9.99 for i in range(1, 23)},
            },
            "rows_only_metrics": {k: 0.9999 for k in mstripped},
            # spread_ds digits are one char per query BY CONSTRUCTION
            # (capped at 'f'), so this worst case is exact
            "spread_ds": {
                "a": "f" * len(names["ANALYTICS"]),
                "l": "f" * len(names["LLM"]),
                "t": "f" * 22,
                "h": "f" * len(names["HEADLINE"]),
            },
            "incomplete": True,
        },
        separators=(",", ":"),
    )
    # 1990 leaves newline slack.
    assert len(final) + 1 <= 1990, (
        f"bench final line is {len(final)} chars; the driver captures "
        "exactly 2000 and parses only the last line — it must fit whole"
    )


def test_tpch_key_is_guarded():
    assert bench._tpch_key("q_tpch_q7") == "7"
    assert bench._tpch_key("q_tpch_extra") == "extra"
    assert bench._tpch_key("q_other") == "q_other"


def test_flat_per_query_keeps_full_names_for_every_collision():
    """Both keys of a colliding pair keep their full name, whichever
    section comes first; non-colliding keys stay short."""
    headline = {"q_agg_group_sum": 1.234, "q_text_tokenize": 2.0}
    llm = {"q_llm_group_sum": 3.0}
    tpch = {"q_tpch_q1": 4.0, "q_tpch_tokenize": 5.0}
    got = bench.flat_per_query((headline, llm, {}), tpch)
    assert got == {
        "q_agg_group_sum": 1.23,
        "q_llm_group_sum": 3.0,
        "q_text_tokenize": 2.0,
        "q_tpch_tokenize": 5.0,
        "1": 4.0,
    }
    assert bench.flat_per_query((llm, headline, {}), tpch) == got
    assert bench.flat_per_query(({"q_a_x": 1.0},), {}) == {"x": 1.0}
