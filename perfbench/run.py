#!/usr/bin/env python3
"""Benchmark command for the warehouse engine.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (one closed-loop client each,
on local[nproc]):

  dashboard  BI session: 12 declared queries + 3 served views, collected
  ingest     xlsx drops through service.run_service, a read after each commit

The run builds its inputs from --seed, sets up several times, runs one
checked warm-up round and then timed rounds for --seconds, checks every
output, and prints a summary followed by one JSON line. --trace 1 records
spans around the calls into each layer and reports per-layer metrics
instead of end-to-end ones. Scratch state lives in .perfbench/ at the
checkout root and is removed at exit, except traces.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
PKG = "datawarehouse1_spark"

sys.pycache_prefix = os.path.join(STATE, "pycache")  # keep __pycache__ out of the tree
sys.path.insert(0, ROOT)

WORKLOADS = ("dashboard", "ingest")
DASHBOARD_SF = 0.01
WARM_SETUPS = 2  # set-ups after the cold start; setup_s is their median
INGEST_ROWS = 2000  # rows per xlsx drop


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=DASHBOARD_SF, help="dashboard scale factor")
    p.add_argument(
        "--corrupt-expected", action="store_true",
        help="replace one expected result (self-test: the run must fail)",
    )
    return p.parse_args(argv)


def prepare_env(workdir: str) -> None:
    """Everything the JVM and the Python workers need, set before launch:
    workers import the package from the checkout root, and Spark's scratch,
    warehouse and temp files stay under `workdir`."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    tmp = os.path.join(workdir, "tmp")
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYTHONPYCACHEPREFIX"] = sys.pycache_prefix
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}' "
        "pyspark-shell"
    )
    os.chdir(workdir)


class Service:
    """One set-up of the system under test: fresh package import and
    registry load, a new SparkSession, and the workload's serving side
    (catalog views for dashboard, the running stream for ingest)."""

    def __init__(self, workload: str, data_dir: str, ingest_root: str, tracer):
        self.workload = workload
        self.data_dir = data_dir
        self.ingest_root = ingest_root
        self.tracer = tracer
        self.stream = None
        t0 = time.perf_counter()
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        self.registry = importlib.import_module(f"{PKG}.registry")
        self.registry.load_all()
        t1 = time.perf_counter()
        self.spark = importlib.import_module(PKG).get_spark(f"perfbench-{workload}")
        t2 = time.perf_counter()
        if workload == "dashboard":
            serving = importlib.import_module(f"{PKG}.serving")
            serving.register_warehouse(self.spark, data_dir)
            serving.register_views(self.spark)
        elif workload == "ingest":
            self.stream = self._start_stream()
        t3 = time.perf_counter()
        self.times = {"registry_s": t1 - t0, "session_s": t2 - t1, "total_s": t3 - t0}

    def _start_stream(self):
        from workloads import IngestStream

        ingest = importlib.import_module(f"{PKG}.operators.ingest")
        service = importlib.import_module(f"{PKG}.service")
        schemas = importlib.import_module(f"{PKG}.schemas")
        results: list = []
        append = ingest.append_if_valid

        def recorded_append(*args, **kwargs):
            span = self.tracer.begin("ingest.append")
            try:
                result = append(*args, **kwargs)
            finally:
                self.tracer.end(span)
            results.append(result)
            return result

        ingest.append_if_valid = recorded_append
        if self.tracer.enabled:
            ingest.validate_batch = self.tracer.wrap("ingest.validate", ingest.validate_batch)
        root = self.ingest_root
        dirs = {k: os.path.join(root, k) for k in ("watch", "staging", "tables")}
        for d in dirs.values():
            os.makedirs(d, exist_ok=True)
        args = service.build_parser().parse_args([
            "--watch-dir", dirs["watch"],
            "--table-root", dirs["tables"],
            "--table", "ventes",
            "--business-key", schemas.BUSINESS_KEYS["ventes"],
            "--not-null", ",".join(schemas.NOT_NULL["ventes"]),
            "--interval", "0",
            "--format", "xlsx",
        ])
        query = service.run_service(args, spark=self.spark)
        query.processAllAvailable()  # the first (empty) trigger has run
        return IngestStream(
            query=query,
            watch_dir=dirs["watch"],
            table_path=os.path.join(dirs["tables"], "ventes"),
            status_dir=os.path.join(dirs["tables"], "_checkpoints", "ventes", "file_status"),
            staging_dir=dirs["staging"],
            results=results,
        )

    def trace_catalog(self) -> None:
        """Span every catalog.table call and note memo hits."""
        from spans import patch_everywhere

        catalog = importlib.import_module(f"{PKG}.catalog")
        table = catalog.table
        tracer = self.tracer

        def traced_table(*args, **kwargs):
            cached = {id(v[1]) for v in catalog._TABLE_MEMO.values()}
            span = tracer.begin("catalog")
            try:
                df = table(*args, **kwargs)
            finally:
                tracer.end(span)
            span.attrs["hit"] = id(df) in cached
            return df

        patch_everywhere(PKG, table, traced_table)

    def stop(self) -> None:
        if self.stream is not None:
            self.stream.query.stop()
        self.spark.stop()


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# metrics


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (q a multiple of 5), as statistics.quantiles gives it."""
    return statistics.quantiles(values, n=20)[q // 5 - 1] if len(values) > 1 else values[0]


def end_to_end(workload: str, setups: list[dict], out) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, samples) for the contract metrics."""
    lat = [op.latency_s for op in out.ops]
    reads = [op.read_s for op in out.ops] if workload == "ingest" else lat
    warm = [s["total_s"] for s in setups[1:]]
    return {
        "setup_s": (statistics.median(warm), "s", len(warm)),
        "latency_p50_s": (statistics.median(lat), "s", len(lat)),
        "latency_p75_s": (quantile(lat, 75), "s", len(lat)),
        "throughput_per_s": (len(lat) / out.loop_s, "1/s", len(lat)),
        "read_p50_s": (statistics.median(reads), "s", len(reads)),
    }


def issue_view(workload: str, e2e: dict, out) -> dict[str, tuple[float, str, int]]:
    """The same samples under the workload-specific names."""
    n = len(out.ops)
    lat = [op.latency_s for op in out.ops]
    view = {"setup_s": e2e["setup_s"]}
    if workload == "ingest":
        rows = sum(op.rows for op in out.ops)
        view.update(
            commit_p50_s=(e2e["latency_p50_s"][0], "s", n),
            rows_per_s=(rows / out.loop_s, "rows/s", n),
            read_p50_s=e2e["read_p50_s"],
        )
    else:
        view.update(
            query_p50_s=(e2e["latency_p50_s"][0], "s", n),
            query_p90_s=(quantile(lat, 90), "s", n),
            queries_per_s=(e2e["throughput_per_s"][0], "1/s", n),
        )
    view["error_rate"] = (out.failed / max(out.attempted, 1), "ratio", out.attempted)
    return view


def per_layer(workload, setups, out, tracer, parse_s, jvm_rss_mb, cores) -> dict[str, tuple[float, str]]:
    """Per-operation means over the timed loop (counts and seconds), so the
    layer times add up to the mean operation wall time."""
    ops = out.ops
    n = max(len(ops), 1)
    timed = {op.op_id for op in ops}

    def total(get) -> float:
        return sum(get(op) for op in ops)

    def ex(key) -> float:
        return total(lambda op: op.exec.get(key, 0.0)) / n

    cat = [s for s in tracer.by_name("catalog") if s.op in timed]
    hits = sum(1 for s in cat if s.attrs.get("hit"))
    phase = {k: total(lambda op, k=k: op.phases.get(k, 0.0)) for k in ("construct_s", "plan_s", "execute_s", "commit_s")}
    busy_wall = sum(phase.values())
    wall = total(lambda op: op.latency_s + op.read_s)
    warm = setups[1:]
    m = {
        "session.start_s": (statistics.median(s["session_s"] for s in warm), "s"),
        "session.cold_start_s": (setups[0]["session_s"], "s"),
        "session.jvm_peak_rss_mb": (jvm_rss_mb, "MB"),
        "registry.load_s": (statistics.median(s["registry_s"] for s in warm), "s"),
        "catalog.calls": (len(cat) / n, "count"),
        "catalog.self_s": (sum(s.self_s for s in cat) / n, "s"),
        "catalog.memo_hit_ratio": (hits / len(cat) if cat else 0.0, "ratio"),
        "queries.construct_s": (0.0 if workload == "ingest" else phase["construct_s"] / n, "s"),
        "queries.construct_jobs": (total(lambda op: op.construct_jobs) / n, "count"),
        "catalyst.plan_s": (phase["plan_s"] / n, "s"),
    }
    for k in ("exchanges", "broadcasts", "scans", "python_evals"):
        m[f"catalyst.{k}"] = (total(lambda op, k=k: op.plan.get(k, 0)) / n, "count")
    m["exec.execute_s"] = (phase["execute_s"] / n, "s")
    for k in ("jobs", "stages", "tasks"):
        m[f"exec.{k}"] = (ex(k), "count")
    for k in ("run_s", "cpu_s", "gc_s"):
        m[f"exec.{k}"] = (ex(k), "s")
    for k in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"exec.{k}"] = (ex(k), "MB")
    m["exec.core_busy_ratio"] = (ex("run_s") * n / (busy_wall * cores) if busy_wall else 0.0, "ratio")
    m["sources.parse_s"] = (statistics.mean(parse_s) if parse_s else 0.0, "s")
    from workloads import STREAM_FIELDS

    for k in STREAM_FIELDS:
        m[f"streaming.{k}"] = (total(lambda op, k=k: op.stream.get(k, 0.0)) / n, "ms")
    validate = [s for s in tracer.by_name("ingest.validate") if s.op in timed]
    append = [s for s in tracer.by_name("ingest.append") if s.op in timed]
    m["ingest.validate_s"] = (sum(s.dur for s in validate) / n, "s")
    m["ingest.append_s"] = (sum(s.self_s for s in append) / n, "s")
    m["ingest.jobs_per_file"] = (total(lambda op: op.commit_jobs) / n, "count")
    m["ingest.rejected_files"] = (out.extra.get("rejected_files", 0), "count")
    m["ingest.table_files"] = (out.extra.get("table_files", 0), "count")
    m["trace.overhead_s"] = (total(lambda op: op.trace_s) / n, "s")
    m["trace.unattributed_share"] = (1.0 - busy_wall / wall if wall else 0.0, "ratio")
    return m


# ---------------------------------------------------------------------------


def make_drops(seed: int, seconds: float, out_problems: list[str]):
    """Seeded ventes files, each round-tripped through the engine's stdlib
    xlsx reader; returns (drops, per-file parse seconds)."""
    from corpus import VENTES_COLUMNS, ventes_drop
    from datawarehouse1_spark.sources.xlsx_mini import parse_xlsx_bytes
    from workloads import WARMUP_FILES

    drops, parse_s = [], []
    for i in range(WARMUP_FILES + int(math.ceil(seconds * 1.2)) + 2):  # ~1 s per file
        d = ventes_drop(seed, i, INGEST_ROWS)
        t0 = time.perf_counter()
        frame = parse_xlsx_bytes(d.data)
        parse_s.append(time.perf_counter() - t0)
        want_cols = [c for c in VENTES_COLUMNS if not (d.kind == "missing_column" and c == "quantite")]
        if list(frame.columns) != want_cols or len(frame) != d.rows:
            out_problems.append(f"{d.name}: xlsx round trip gave {list(frame.columns)} x {len(frame)}")
        drops.append(d)
    return drops, parse_s


def dashboard_queries() -> tuple[tuple[str, ...], dict[str, str]]:
    """The dashboard's query names and their DuckDB oracle SQL."""
    from workloads import DASHBOARD_QUERIES, VIEW_PREFIX

    registry = importlib.import_module(f"{PKG}.registry")
    serving = importlib.import_module(f"{PKG}.serving")
    registry.load_all()
    oracles = {n: registry.ORACLES[n] for n in DASHBOARD_QUERIES}
    for view, sql in serving.WAREHOUSE_VIEWS.items():
        oracles[f"{VIEW_PREFIX}{view}"] = sql.format(db="main")
    return tuple(oracles), oracles


def expected_digests(data_dir: str, oracle_sql: dict[str, str], corrupt: bool) -> dict[str, str]:
    from oracle import DuckOracle

    catalog = importlib.import_module(f"{PKG}.catalog")
    duck = DuckOracle(data_dir, catalog.TABLES)
    try:
        digests = {n: duck.digest(sql) for n, sql in oracle_sql.items()}
    finally:
        duck.close()
    if corrupt:
        digests[min(digests)] = "0" * 64
    return digests


def main(argv=None) -> int:
    args = parse_args(argv)
    import datawarehouse1_spark  # noqa: F401  (fails fast outside a checkout)

    from corpus import write_star_schema
    from spans import Tracer, jvm_peak_rss_mb
    from workloads import QueryClient, run_ingest, run_queries

    workdir = os.path.join(STATE, f"run-{os.getpid()}")
    prepare_env(workdir)
    sf = args.sf if args.workload == "dashboard" else 0.0
    tracer = Tracer(bool(args.trace))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    data_dir = os.path.join(workdir, "data")
    problems: list[str] = []
    parse_s: list[float] = []
    service = None
    try:
        # inputs (not part of set-up time)
        if args.workload == "ingest":
            drops, parse_s = make_drops(args.seed, args.seconds, problems)
        else:
            write_star_schema(data_dir, args.sf, args.seed)
            names, oracle_sql = dashboard_queries()
            expected = expected_digests(data_dir, oracle_sql, args.corrupt_expected)

        log("inputs ready")
        setups = []
        for i in range(1 + WARM_SETUPS):
            if service is not None:
                service.stop()
            service = Service(args.workload, data_dir, os.path.join(workdir, f"ingest-{i}"), tracer)
            setups.append(service.times)
            log(f"set-up {i}: {service.times}")
        if tracer.enabled:
            service.trace_catalog()

        if args.workload == "ingest":
            out = run_ingest(service.spark, service.stream, drops, args.seconds, tracer)
        else:
            client = QueryClient(service.spark, service.registry, data_dir, tracer)
            out = run_queries(client, names, expected, args.seconds, args.seed)
        log(f"workload done: {len(out.ops)} timed ops in {out.loop_s:.1f}s")
        for p in problems:
            out.fail(p)
        rss = jvm_peak_rss_mb(service.spark)
        service.stop()
        service = None
        shutdown_jvm()
        log("JVM stopped")
    finally:
        if service is not None:
            service.stop()
            shutdown_jvm()
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)

    e2e = end_to_end(args.workload, setups, out)
    info = {
        "workload": args.workload, "seed": args.seed, "sf": sf, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "SPARK_GRAFT_CPUS": cores,
        "attempted": out.attempted, "failed": out.failed, **out.extra,
    }
    print("perfbench " + json.dumps(info))
    for p in out.problems:
        print(f"perfbench FAILED {p}")
    if args.trace:
        metrics = per_layer(args.workload, setups, out, tracer, parse_s, rss, cores)
        trace_dir = os.path.join(STATE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.jsonl"))
        shown = {k: (v, u, len(out.ops)) for k, (v, u) in metrics.items()}
    else:
        metrics = {k: (v, u) for k, (v, u, _) in e2e.items()}
        shown = issue_view(args.workload, e2e, out)
    for k, (v, u, n) in shown.items():
        print(f"perfbench metric {k} = {v:.6g} {u} (n={n})")
    correct = out.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
