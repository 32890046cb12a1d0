"""Spans and per-layer counters for the traced run.

A span marks one layer boundary crossed by the benchmark: the run, a
setup phase, an op, an op's construct/execute halves, or a call that a
public function makes into another layer (wrapped from outside by
``Tracer.wrap``). Each span runs its Spark jobs under its own job
group, so after an op the jobs, stages and SQL executions it caused are
read back from Spark's status stores (which work with the UI off) and
charged to the innermost span that was open when they ran.

Spans are kept in memory and written out once, at the end of the run.
A disabled tracer does nothing: no job groups, no status-store reads.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

# Counters every layer that runs Spark jobs reports (per workload pass).
COMMON = (
    "jobs", "tasks", "executor_cpu_s", "jvm_gc_s", "input_bytes",
    "output_bytes", "shuffle_write_bytes", "spill_bytes", "task_skew",
    "driver_only_s", "python_bytes", "self_s",
)

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_SIZE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """Bytes from a size SQL metric as the status store formats it: a
    bare ``'74.6 KiB'`` for one task, or a ``total (min, med, max ...)``
    header line followed by the total first."""
    m = _SIZE.search(text.split("\n")[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    stats: dict[str, float] = field(default_factory=dict)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._suspended = 0
        self._pending: list[Span] = []
        self._last_exec = -1
        self._undo: list = []

    # -- spans ----------------------------------------------------------

    def _set_group(self, sc, span: Span | None) -> None:
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span.group, span.name, False)

    @contextmanager
    def span(self, sc, name: str, layer: str, **attrs):
        """``sc`` is the live SparkContext, or None before one exists."""
        if not self.enabled or self._suspended:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent.id if parent else None,
                 time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        if sc is not None:
            self._set_group(sc, s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._pending.append(s)
            if sc is not None:
                self._set_group(sc, self._stack[-1] if self._stack else None)

    @contextmanager
    def suspended(self):
        """Open no spans inside (jobs fall to the enclosing span)."""
        self._suspended += 1
        try:
            yield
        finally:
            self._suspended -= 1

    def wrap(self, module, attr: str, layer: str, get_sc) -> None:
        """Replace ``module.attr`` with a version that runs inside a span,
        so calls a public function makes into another layer are timed
        from outside the program. ``unwrap_all`` restores them."""
        if not self.enabled:
            return
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(get_sc(), attr, layer):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._undo.append(lambda: setattr(module, attr, original))

    def unwrap_all(self) -> None:
        while self._undo:
            self._undo.pop()()

    # -- status-store collection ------------------------------------------

    def collect(self, spark) -> None:
        """Charge the jobs and SQL executions of every span closed since the
        last call to those spans. Call it while the SparkContext that ran
        them is still alive."""
        if not self.enabled or not self._pending:
            return
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        job_owner: dict[int, Span] = {}
        for s in self._pending:
            for job_id in tracker.getJobIdsForGroup(s.group):
                job_owner[int(job_id)] = s
        quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        no_status = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        for job_id, s in job_owner.items():
            job = store.job(job_id)
            st = s.stats
            st["jobs"] = st.get("jobs", 0) + 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                s.job_intervals.append((
                    job.submissionTime().get().getTime() / 1000.0,
                    job.completionTime().get().getTime() / 1000.0,
                ))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                attempts = store.stageData(
                    stage_ids.apply(i), False, no_status, False, no_quantiles
                )
                for a in range(attempts.size()):
                    stage = attempts.apply(a)
                    if stage.status().toString() != "COMPLETE":
                        continue
                    _add(st, "tasks", stage.numTasks())
                    _add(st, "executor_cpu_s", stage.executorCpuTime() / 1e9)
                    _add(st, "jvm_gc_s", stage.jvmGcTime() / 1e3)
                    _add(st, "input_bytes", stage.inputBytes())
                    _add(st, "output_bytes", stage.outputBytes())
                    _add(st, "shuffle_write_bytes", stage.shuffleWriteBytes())
                    _add(st, "spill_bytes",
                         stage.memoryBytesSpilled() + stage.diskBytesSpilled())
                    summary = store.taskSummary(
                        stage.stageId(), stage.attemptId(), quantiles
                    )
                    if summary.isDefined():
                        run = summary.get().executorRunTime()
                        med, worst = run.apply(0), run.apply(1)
                        if med > 0:
                            st["task_skew"] = max(st.get("task_skew", 0.0), worst / med)
        self._collect_python_bytes(spark, job_owner)
        self._pending = []

    def _collect_python_bytes(self, spark, job_owner: dict[int, Span]) -> None:
        sql = spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._last_exec:
                continue
            self._last_exec = eid
            job_ids = [int(j) for j in _keys(ex.jobs())]
            owner = next((job_owner[j] for j in job_ids if j in job_owner), None)
            if owner is None:
                continue
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() in (_PY_SENT, _PY_RETURNED):
                        v = values.get(metric.accumulatorId())
                        if v.isDefined():
                            _add(owner.stats, "python_bytes", parse_size(v.get()))

    def forget_context(self) -> None:
        """A new SparkContext numbers its SQL executions from 0 again."""
        self._last_exec = -1

    # -- reporting ---------------------------------------------------------

    def finish(self) -> None:
        """Derive self time and driver-only time for every closed span."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        for s in self.spans:
            kids = children[s.id]
            s.stats["self_s"] = (s.end - s.start) - sum(k.end - k.start for k in kids)
            busy = s.job_intervals + [(k.start, k.end) for k in kids]
            s.stats["driver_only_s"] = (s.end - s.start) - _covered(busy, s.start, s.end)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def _add(stats: dict, key: str, value) -> None:
    stats[key] = stats.get(key, 0) + value


def _keys(scala_map) -> list:
    it = scala_map.keysIterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def layer_totals(spans: list[Span], span_ids: set[int]) -> dict[str, dict[str, float]]:
    """Sum (max, for task_skew) each layer's counters over ``span_ids``."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COMMON, 0.0))
    for s in spans:
        if s.id not in span_ids:
            continue
        acc = out[s.layer]
        for k, v in s.stats.items():
            acc[k] = max(acc[k], v) if k == "task_skew" else acc[k] + v
    return out
