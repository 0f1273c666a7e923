"""Spans around the engine's public calls, and the Spark work inside them.

A span records name, layer, start, end, parent and the ids of the
Spark jobs submitted while it was open. The benchmark drives the engine
from one client thread, so every job submitted between a span's start
and end belongs to that span -- including jobs the call starts from its
own thread pools or eager checkpoints, which do not inherit the job
group. The job group and description are still set per span, so the
jobs carry the span's label in the status store.

When a span closes, its jobs are read from the JVM status store (job,
stage and task data) and from the SQL status store (plan graph and the
Python-worker time metric), and folded into per-layer counters. Spans
stay in memory and are written out once, when the run ends.

A disabled tracer records nothing and calls nothing in the JVM.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time
from dataclasses import dataclass, field

#: layers whose spans get the common Spark counters
LAYERS = ("plans", "ingest", "operators", "streaming")
#: common per-layer counters, in report order
COMMON = (
    "wall_s", "driver_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "core_busy_frac", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s",
)
_PYTHON_TIME_METRIC = "time to run Python workers"
_MB = 1e6


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    call_sites: list[str] = field(default_factory=list)


@dataclass
class LayerTotals:
    wall_s: float = 0.0
    driver_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0
    physical_nodes: int = 0
    exchanges: int = 0
    task_ms: list[int] = field(default_factory=list)


class Tracer:
    """Per-run span recorder; ``enabled`` may be switched between jobs."""

    def __init__(self, spark, cores: int, enabled: bool = False):
        self.spark = spark
        self.cores = cores
        self.enabled = enabled
        self.spans: list[Span] = []
        self.layers: dict[str, LayerTotals] = {}
        self.phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self._stack: list[Span] = []
        self._exec_seen = -1

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), name, layer, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        first_job = self._next_job_id()
        sc.setJobGroup(f"perfbench-{sp.span_id}", f"{layer}:{name}", False)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                sc.setJobGroup(f"perfbench-{outer.span_id}", f"{outer.layer}:{outer.name}", False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sp.jobs = list(range(first_job, self._next_job_id()))
            if not any(child.parent == sp.span_id for child in self.spans[sp.span_id + 1:]):
                self._collect(sp)

    def _next_job_id(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    # -- status-store reads ---------------------------------------------

    def _collect(self, sp: Span) -> None:
        """Fold a leaf span's jobs into its layer's totals."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
        tot = self.layers.setdefault(sp.layer, LayerTotals())
        tot.wall_s += sp.end - sp.start
        store = jsc.statusStore()
        submitted = []
        stage_ids: set[int] = set()
        for jid in sp.jobs:
            job = store.job(jid)
            sub = job.submissionTime()
            if sub.isDefined():
                submitted.append(sub.get().getTime() / 1000.0)
            sp.call_sites.append(job.name())
            it = job.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
        first = min(submitted) if submitted else sp.end
        tot.driver_s += max(0.0, min(first, sp.end) - sp.start)
        tot.jobs += len(sp.jobs)
        for sid in sorted(stage_ids):
            st = store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            tot.tasks += st.numTasks()
            tot.executor_run_s += st.executorRunTime() / 1000.0
            tot.executor_cpu_s += st.executorCpuTime() / 1e9
            tot.shuffle_read_mb += st.shuffleReadBytes() / _MB
            tot.shuffle_write_mb += st.shuffleWriteBytes() / _MB
            tot.spill_mb += st.diskBytesSpilled() / _MB
            tot.gc_s += st.jvmGcTime() / 1000.0
            if sp.layer == "ingest" and st.numTasks() > 1:
                tasks = store.taskList(sid, st.attemptId(), 1 << 20).iterator()
                while tasks.hasNext():
                    d = tasks.next().duration()
                    tot.task_ms.append(d if isinstance(d, int) else d.get())
        self._collect_sql(sp, tot)

    def _collect_sql(self, sp: Span, tot: LayerTotals) -> None:
        """Plan-graph node counts and Python-worker time of the SQL
        executions that ran this span's jobs."""
        if not sp.jobs:
            return
        sql = self.spark._jsparkSession.sharedState().statusStore()
        jobs = set(sp.jobs)
        it = sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid <= self._exec_seen:
                continue
            ran = ex.jobs().keys().iterator()
            mine = False
            while ran.hasNext():
                mine |= ran.next() in jobs
            if not mine:
                continue
            self._exec_seen = max(self._exec_seen, eid)
            values = {}
            kv = sql.executionMetrics(eid).iterator()
            while kv.hasNext():
                pair = kv.next()
                values[pair._1()] = pair._2()
            nodes = sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                name = node.name()
                if name.startswith("WholeStageCodegen"):
                    continue
                tot.physical_nodes += 1
                tot.exchanges += "Exchange" in name
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    if m.name() == _PYTHON_TIME_METRIC and m.accumulatorId() in values:
                        tot.python_s += parse_timing_total(values[m.accumulatorId()])

    def record_phases(self, df) -> None:
        """Plan the frame now and add its analysis / optimizer / planning
        phase times; the action that follows reuses the same plan."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in self.phases:
                self.phases[kv._1()] += kv._2().durationMs() / 1000.0

    # -- output ----------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        """The common counters of every layer in :data:`LAYERS`, plus the
        layer-specific ones the tracer itself measures."""
        out: dict[str, float] = {}
        for layer in LAYERS:
            t = self.layers.get(layer, LayerTotals())
            busy = t.executor_run_s / (t.wall_s * self.cores) if t.wall_s else 0.0
            for k in COMMON:
                out[f"{layer}.{k}"] = busy if k == "core_busy_frac" else getattr(t, k)
        ing = self.layers.get("ingest", LayerTotals())
        out["ingest.python_s"] = ing.python_s
        out["ingest.task_skew"] = (
            max(ing.task_ms) / statistics.median(ing.task_ms)
            if ing.task_ms and statistics.median(ing.task_ms) > 0
            else 0.0
        )
        out["operators.python_s"] = self.layers.get("operators", LayerTotals()).python_s
        out["plans.analysis_s"] = self.phases["analysis"]
        out["plans.optimizer_s"] = self.phases["optimization"]
        out["plans.planning_s"] = self.phases["planning"]
        out["plans.physical_nodes"] = sum(t.physical_nodes for t in self.layers.values())
        out["plans.exchanges"] = sum(t.exchanges for t in self.layers.values())
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([sp.__dict__ for sp in self.spans], fh, indent=1)


_TIMING = re.compile(r"([0-9][0-9.,]*)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_timing_total(text: str) -> float:
    """Seconds from a SQL timing metric's display string, whose first
    value after the header line is the total (e.g. ``"total (min, med,
    max (stageId: taskId))\\n1.9 s (0 ms, ...)"``, or a bare ``"12 ms"``)."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _TIMING.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]
