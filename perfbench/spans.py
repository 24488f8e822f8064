"""Spans and Spark status-store harvesting for the traced benchmark run.

Spans wrap the benchmark's calls into each layer's public functions. They
are kept in memory and written out when the run ends; a span's self time
is its duration minus the time its child spans on the same thread cover.

Execution counters come from the JVM status store, which Spark keeps with
the UI disabled. Stages are harvested after every operation: Spark
retains only the newest 1,000 stages, and a run can exceed that (one
pass over the curation operators runs ~1,240), so a single harvest at the
end would lose data.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int  # id of the benchmark operation the span belongs to
    start: float
    end: float = 0.0
    child_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """Collects spans; `enabled=False` makes every span a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = 0
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        span = Span(name, self.op, time.perf_counter(), attrs=attrs)
        self._stack().append(span)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if stack:
            stack[-1].child_s += span.dur
        with self._lock:
            self.spans.append(span)

    def wrap(self, name: str, fn):
        """`fn` wrapped in a span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(span)

        return traced

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "name": s.name, "op": s.op, "start": s.start, "end": s.end,
                    "self_s": s.self_s, **s.attrs,
                }) + "\n")


def patch_everywhere(package: str, original, replacement) -> int:
    """Point every module of `package` that holds `original` (imported by
    name or as a module attribute) at `replacement`; returns the count."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)
                n += 1
    return n


# ---------------------------------------------------------------------------
# JVM status store

def _newest_first(seq, key, after: int):
    """Items of a newest-first Scala Seq whose `key` exceeds `after`."""
    it = seq.iterator()
    while it.hasNext():
        item = it.next()
        if key(item) <= after:
            return
        yield item


class StatusHarvest:
    """Reads jobs and stages finished since the previous harvest from
    `sc._jsc.sc().statusStore()`. Its lists are Scala Seqs, newest first."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._last_stage = -1
        self._last_job = -1
        self.harvest()  # everything before this point is not ours

    def harvest(self) -> dict:
        # job/stage end events reach the store through the async listener bus
        self._sc.listenerBus().waitUntilEmpty()
        out = defaultdict(float)
        for job in _newest_first(self._store.jobsList(None), lambda j: j.jobId(), self._last_job):
            self._last_job = max(self._last_job, job.jobId())
            out["jobs"] += 1
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        for st in _newest_first(stages, lambda s: s.stageId(), self._last_stage):
            self._last_stage = max(self._last_stage, st.stageId())
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        return dict(out)


_PLAN_NODES = {
    "exchanges": re.compile(r"\bExchange\b"),
    "broadcasts": re.compile(r"\bBroadcastExchange\b"),
    "scans": re.compile(r"\b(?:FileScan|Scan|InMemoryTableScan|LocalTableScan)\b"),
    "python_evals": re.compile(
        r"\b(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
        r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas"
        r"|WindowInPandas|ArrowEvalPythonUDTF|BatchEvalPythonUDTF)\w*"
    ),
}


def plan_counts(df) -> dict[str, int]:
    """Operator counts in the physical plan Catalyst built for `df` (forces
    planning; the DataFrame keeps the plan for its own action)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return {k: len(p.findall(text)) for k, p in _PLAN_NODES.items()}


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
