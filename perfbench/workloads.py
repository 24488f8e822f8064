"""The benchmark workloads: one closed-loop client each.

An operation that raises, or returns a wrong result, counts as failed;
results are checked after the timed loop.
"""

from __future__ import annotations

import os
import random
import sys
import time
from dataclasses import dataclass, field

from oracle import spark_digest
from spans import StatusHarvest, Tracer, plan_counts

DASHBOARD_QUERIES = (
    "q_flagship_monthly_revenue",
    "q_join_multi_star",
    "q_join_broadcast_dim",
    "q_agg_group_sum",
    "q_agg_rollup",
    "q_window_rank_topn",
    "q_topk_orderby_limit",
    "q_tpch_q1_pricing_summary",
    "q_tpch_q3_shipping_priority",
    "q_tpch_q5_local_supplier",
    "q_tpch_q6_forecast_revenue",
    "q_tpch_q10_returned_items",
)
VIEW_PREFIX = "view:"


@dataclass
class Op:
    """One timed client operation and its layer breakdown."""

    name: str
    latency_s: float
    op_id: int = 0  # Tracer.op of the spans recorded inside it
    phases: dict[str, float] = field(default_factory=dict)
    exec: dict[str, float] = field(default_factory=dict)
    plan: dict[str, int] = field(default_factory=dict)
    construct_jobs: float = 0.0
    commit_jobs: float = 0.0  # ingest: jobs of the file's micro-batch
    trace_s: float = 0.0  # status-store harvest time (excluded from latency_s)
    read_s: float = 0.0  # ingest: the read after the commit
    rows: int = 0  # ingest: valid rows committed by this drop
    stream: dict[str, float] = field(default_factory=dict)


@dataclass
class Outcome:
    ops: list[Op] = field(default_factory=list)
    loop_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _merge(into: dict, more: dict) -> None:
    for k, v in more.items():
        into[k] = into.get(k, 0.0) + v


class QueryClient:
    """Runs declared queries (or SQL over the served views) one at a time
    and collects each result, as a BI or notebook client would. Traced, a
    query splits into construct / plan / execute."""

    def __init__(self, spark, registry, data_dir: str, tracer: Tracer):
        self.spark = spark
        self.registry = registry
        self.data_dir = data_dir
        self.tracer = tracer
        self.harvest = StatusHarvest(spark) if tracer.enabled else None

    def build(self, name: str):
        if name.startswith(VIEW_PREFIX):
            return self.spark.sql(f"SELECT * FROM warehouse.{name[len(VIEW_PREFIX):]}")
        return self.registry.QUERIES[name](self.spark, self.data_dir)

    def run(self, name: str):
        """Returns (Op, df, rows)."""
        tr = self.tracer
        tr.op += 1
        op = Op(name, 0.0, tr.op)
        t0 = time.perf_counter()
        span = tr.begin("construct", query=name)
        df = self.build(name)
        tr.end(span)
        if self.harvest is not None:
            h0 = time.perf_counter()
            built = self.harvest.harvest()
            op.construct_jobs = built.get("jobs", 0.0)
            _merge(op.exec, built)
            op.trace_s += time.perf_counter() - h0
            t0 += op.trace_s
            op.phases["construct_s"] = span.dur
            span = tr.begin("plan", query=name)
            op.plan = plan_counts(df)
            tr.end(span)
            op.phases["plan_s"] = span.dur
        span = tr.begin("execute", query=name)
        rows = df.collect()
        tr.end(span)
        op.latency_s = time.perf_counter() - t0
        if self.harvest is not None:
            op.phases["execute_s"] = span.dur
            h0 = time.perf_counter()
            _merge(op.exec, self.harvest.harvest())
            op.trace_s += time.perf_counter() - h0
        return op, df, rows


def _attempt(out: Outcome, name: str, fn) -> None:
    out.attempted += 1
    try:
        fn(name)
    except Exception as exc:  # a failed query is a result, not a crash
        out.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")


def run_queries(
    client: QueryClient,
    names: tuple[str, ...],
    expected: dict[str, str],
    seconds: float,
    seed: int,
) -> Outcome:
    """An untimed warm-up round, then rounds in a seed-shuffled order until
    `seconds` pass, always finishing a round. Every collected result is
    compared with its oracle digest after the loop."""
    out = Outcome()
    results = []

    def run(name: str, timed: bool) -> None:
        op, df, rows = client.run(name)
        _log(f"{'timed' if timed else 'warm-up'} {name} {op.latency_s:.2f}s")
        if timed:
            out.ops.append(op)
        results.append((name, df, rows))

    for name in names:
        _attempt(out, name, lambda n: run(n, False))
    t0 = time.perf_counter()
    r = 0
    while r == 0 or time.perf_counter() - t0 < seconds:
        order = list(names)
        random.Random(seed * 1000 + r).shuffle(order)
        for name in order:
            _attempt(out, name, lambda n: run(n, True))
        r += 1
    out.loop_s = time.perf_counter() - t0
    out.extra["rounds"] = r
    for name, df, rows in results:
        if spark_digest(df, rows) != expected[name]:
            out.fail(f"{name}: result differs from the DuckDB oracle")
    return out


# ---------------------------------------------------------------------------
# ingest


@dataclass
class IngestStream:
    """A running `service.run_service` stream and its directories."""

    query: object
    watch_dir: str
    table_path: str
    status_dir: str
    staging_dir: str
    results: list  # IngestResult of every append_if_valid call


STREAM_FIELDS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "latest_offset_ms": "latestOffset",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "query_planning_ms": "queryPlanning",
}

WARMUP_FILES = 3  # the seed puts both invalid kinds among these


def run_ingest(spark, stream: IngestStream, drops, seconds: float, tracer: Tracer) -> Outcome:
    """Drop one xlsx file at a time, wait for its commit, read revenue by
    product from the growing table; check the table, the rejections and
    the status rows at the end."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    out = Outcome()
    harvest = StatusHarvest(spark) if tracer.enabled else None
    expected: dict[str, Decimal] = {}
    committed_rows = 0
    reads = []  # (expected revenue snapshot, collected rows)

    def drop_one(d) -> Op:
        nonlocal committed_rows
        tracer.op += 1
        op = Op(d.name, 0.0, tracer.op)
        staged = os.path.join(stream.staging_dir, d.name)
        with open(staged, "wb") as fh:
            fh.write(d.data)
        t0 = time.perf_counter()
        span = tracer.begin("commit", file=d.name, kind=d.kind)
        os.rename(staged, os.path.join(stream.watch_dir, d.name))
        stream.query.processAllAvailable()
        tracer.end(span)
        op.latency_s = time.perf_counter() - t0
        if d.kind == "valid":
            committed_rows += d.rows
            op.rows = d.rows
            for k, v in d.revenue.items():
                expected[k] = expected.get(k, Decimal(0)) + v
        if harvest is not None:
            h0 = time.perf_counter()
            op.exec = harvest.harvest()
            op.commit_jobs = op.exec.get("jobs", 0.0)
            op.phases["commit_s"] = span.dur
            progress = stream.query.lastProgress or {}
            durations = progress.get("durationMs", {})
            op.stream = {k: float(durations.get(v, 0)) for k, v in STREAM_FIELDS.items()}
            op.trace_s += time.perf_counter() - h0
        if committed_rows:
            t1 = time.perf_counter()
            span = tracer.begin("construct", query="revenue_by_product")
            df = (
                spark.read.parquet(stream.table_path)
                .groupBy("produit_id")
                .agg(F.sum("prix_total").alias("revenue"))
            )
            tracer.end(span)
            if harvest is not None:
                op.phases["construct_s"] = span.dur
                span = tracer.begin("plan", query="revenue_by_product")
                op.plan = plan_counts(df)
                tracer.end(span)
                op.phases["plan_s"] = span.dur
            span = tracer.begin("execute", query="revenue_by_product")
            rows = df.collect()
            tracer.end(span)
            op.read_s = time.perf_counter() - t1
            reads.append((dict(expected), rows))
            if harvest is not None:
                op.phases["execute_s"] = span.dur
                h0 = time.perf_counter()
                _merge(op.exec, harvest.harvest())
                op.trace_s += time.perf_counter() - h0
        return op

    dropped = []
    for d in drops[:WARMUP_FILES]:
        out.attempted += 1
        drop_one(d)
        dropped.append(d)
    t0 = time.perf_counter()
    for d in drops[WARMUP_FILES:]:
        if time.perf_counter() - t0 >= seconds:
            break
        out.attempted += 1
        out.ops.append(drop_one(d))
        dropped.append(d)
    out.loop_s = time.perf_counter() - t0

    # checks (outside the timed loop)
    for want, rows in reads:
        got = {r["produit_id"]: r["revenue"] for r in rows}
        if got != want:
            out.fail("revenue read differs from the rows committed so far")
    n_valid = sum(d.rows for d in dropped if d.kind == "valid")
    table = spark.read.parquet(stream.table_path)
    n_rows = table.count()
    n_ids = table.select("vente_id").distinct().count()
    if n_rows != n_valid or n_ids != n_valid:
        out.fail(f"table holds {n_rows} rows / {n_ids} ids; {n_valid} valid rows were dropped")
    rejected = sum(1 for r in stream.results if r.status == "error")
    want_rejected = sum(1 for d in dropped if d.kind == "null_key")
    if rejected != want_rejected:
        out.fail(f"{rejected} files rejected; {want_rejected} NULL-key files were dropped")
    want_status = sum(1 for d in dropped if d.kind == "missing_column")
    n_status = spark.read.parquet(stream.status_dir).count() if os.path.isdir(stream.status_dir) else 0
    if n_status != want_status:
        out.fail(f"{n_status} status rows; {want_status} missing-column files were dropped")
    out.extra.update(
        files=len(dropped) - WARMUP_FILES,
        rejected_files=rejected,
        table_files=sum(
            1 for _, _, fs in os.walk(stream.table_path) for f in fs if f.endswith(".parquet")
        ),
    )
    return out
