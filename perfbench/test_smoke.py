"""Smoke test of the benchmark command: one short round of each workload at
sf0.001, every declared metric printed with its unit, and a corrupted
expected digest failing the run.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(*args: str) -> tuple[subprocess.CompletedProcess, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "1", "--seconds", "0.5",
         "--sf", "0.001", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc, json.loads(lines[-1]) if lines else {}


def assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_end_to_end_metric(workload):
    proc, result = bench("--workload", workload, "--trace", "0")
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert_metrics(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert "error_rate" in proc.stdout


def test_traced_run_prints_every_layer_metric():
    proc, result = bench("--workload", "ingest", "--trace", "1")
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert_metrics(result, SPEC["per_layer"])
    assert result["metrics"]["ingest.jobs_per_file"]["value"] > 0


def test_corrupted_expected_digest_fails_the_run():
    proc, result = bench("--workload", "dashboard", "--trace", "0", "--corrupt-expected")
    assert proc.returncode == 1
    assert result["correct"] is False and result["failed"] >= 1
    assert "differs from the DuckDB oracle" in proc.stdout
