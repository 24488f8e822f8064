#!/usr/bin/env python
"""Interleaved in-process A/B of HEAD query builds vs a twin package
(e.g. the r15 revision renamed to datawarehouse1_spark_r15 so both
coexist in sys.modules) — VERDICT r16 #1: settle the three ambiguous
driver-run regressions with paired numbers from ONE session.

Usage:
    python tools/ab_vs_rev.py q_dedup_minhash_lsh [q_... ...]

Env:
    AB_TWIN_PATH   dir containing the renamed twin package
                   (default /tmp/r15pkg)
    AB_TWIN_PKG    twin package name (default datawarehouse1_spark_r15)
    AB_REPS        timed reps PER SIDE per order (default 7)
    SPARK_GRAFT_SF_DIR  data dir (default /root/testdata/sf0.1)

Methodology: one SparkSession (HEAD's get_spark), both sides warmed
once, then reps alternate A,B,A,B,... followed by B,A,B,A,... so a
monotone box drift cancels. Per order, each side's median and IQR are
printed with a verdict: is the new side slower than the old one by
more than the old side's IQR? A regression is one that is "slower" in
both orders. The last line per side pools both orders (min, median,
every timing with the new-first half first). Next to each per-order
median it prints the side's janino compile count over that order's
reps (CodegenMetrics), so a side that misses Spark's generated-code
cache shows it.

Both sides share one session, so this tool cannot A/B a `get_spark`
setting (a session or JVM conf such as the generated-code cache size):
such a change is measured with perfbench (`perfbench/run.py`) run in
two checkouts, one per revision.
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TWIN_PATH = os.environ.get("AB_TWIN_PATH", "/tmp/r15pkg")
TWIN_PKG = os.environ.get("AB_TWIN_PKG", "datawarehouse1_spark_r15")
REPS = int(os.environ.get("AB_REPS", "7"))


def timed(spark, fn) -> float:
    t0 = time.perf_counter()
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def compiles(spark) -> int:
    """Classes janino compiled in this JVM so far (driver and tasks)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def main() -> None:
    sys.path.insert(0, TWIN_PATH)
    twin_registry = importlib.import_module(f"{TWIN_PKG}.registry")
    twin_registry.load_all()
    from datawarehouse1_spark import get_spark, registry

    registry.load_all()
    spark = get_spark("ab-vs-rev")
    for name in sys.argv[1:]:
        new_fn = registry.QUERIES[name]
        old_fn = twin_registry.QUERIES[name]
        # warm both (codegen/JIT, catalog resolution)
        spark.sparkContext.setJobDescription(f"{name} warm")
        timed(spark, new_fn)
        timed(spark, old_fn)
        results: dict[str, list[float]] = {"new": [], "old": []}
        for order in (("new", "old"), ("old", "new")):
            run: dict[str, list[float]] = {"new": [], "old": []}
            compiled = {"new": 0, "old": 0}
            for _ in range(REPS):
                for side in order:
                    fn = new_fn if side == "new" else old_fn
                    spark.sparkContext.setJobDescription(f"{name} {side}")
                    c0 = compiles(spark)
                    run[side].append(timed(spark, fn))
                    compiled[side] += compiles(spark) - c0
            old_med, new_med = (statistics.median(run[s]) for s in ("old", "new"))
            old_iqr = _iqr(run["old"])
            slower = "yes" if new_med - old_med > old_iqr else "no"
            print(
                f"{name} {order[0]}-first: "
                f"old median {old_med:.3f}s IQR {old_iqr:.3f}s "
                f"({compiled['old']} compiles), "
                f"new median {new_med:.3f}s IQR {_iqr(run['new']):.3f}s "
                f"({compiled['new']} compiles); "
                f"new slower by more than old IQR: {slower}",
                flush=True,
            )
            for side in order:
                results[side].extend(run[side])
        for side in ("old", "new"):
            xs = results[side]
            print(
                f"{name} {side}: min {min(xs):.3f}s "
                f"median {statistics.median(xs):.3f}s "
                f"n={len(xs)} all={[round(x, 2) for x in xs]}",
                flush=True,
            )
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
