"""Spans and Spark status-store readings for the traced run.

A :class:`Tracer` records one span per layer call made from the
benchmark's own code (name, start, end, parent span) and keeps them in
memory until :meth:`Tracer.dump` writes them once at the end of a run.
Every span runs under its own Spark job group, so the jobs, stages and
SQL executions it caused can be read back afterwards from the status
stores, which answer with ``spark.ui.enabled=false``:

- ``SparkContext.statusStore().stageData`` - executor run time, GC time,
  shuffle bytes, spill and peak execution memory per stage, and
  ``taskSummary`` for the task-time quantiles behind the skew ratio;
- ``SharedState.statusStore().planGraph`` / ``executionMetrics`` - the
  executed operators of each SQL execution and their SQL metrics.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Total of one formatted SQL metric: ``'2 ms'``, ``'16.1 MiB'``,
    ``'200,000'`` or the ``'total (min, med, max ...)\\n21 ms (...)'``
    form. Timings come back in ms, sizes in bytes."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class StageTotals:
    stages: int = 0
    task_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    peak_mem_bytes: float = 0.0
    max_skew: float = 0.0


@dataclass
class PlanTotals:
    nodes: dict = field(default_factory=dict)  # operator name -> count
    metrics: dict = field(default_factory=dict)  # (operator, metric) -> total

    def count(self, *names: str) -> int:
        return sum(v for k, v in self.nodes.items() if k in names)

    def count_suffix(self, suffix: str) -> int:
        return sum(v for k, v in self.nodes.items() if k.endswith(suffix))

    def total(self, metric: str, op_suffix: str = "") -> float:
        """Sum of one SQL metric over the operators named ``*op_suffix``."""
        return sum(v for (op, m), v in self.metrics.items() if m == metric and op.endswith(op_suffix))


class Tracer:
    """In-memory span recorder bound to one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time a layer call; its Spark jobs carry a job group named after
        the span so they can be attributed later."""
        sc = self.spark.sparkContext
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"pb-{sid}-{name}"
        s = Span(sid, name, parent, time.perf_counter(), group=group)
        self.spans.append(s)
        self._stack.append(sid)
        sc.setJobGroup(group, name, False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self.spans[parent].group, self.spans[parent].name, False)
            else:
                sc._jsc.clearJobGroup()

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the time its direct children cover."""
        kids = sum(c.seconds for c in self.spans if c.parent == span.id)
        return span.seconds - kids

    # -- status-store readers ------------------------------------------------

    def job_ids(self, span: Span) -> list[int]:
        """Jobs run under the span or any span nested inside it."""
        tracker = self.spark.sparkContext.statusTracker()
        ids: set[int] = set()
        for s in self.spans:
            if s.id == span.id or self._is_ancestor(span.id, s):
                ids.update(tracker.getJobIdsForGroup(s.group))
        return sorted(ids)

    def _is_ancestor(self, ancestor: int, s: Span) -> bool:
        while s.parent is not None:
            if s.parent == ancestor:
                return True
            s = self.spans[s.parent]
        return False

    def stage_totals(self, span: Span) -> StageTotals:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        out = StageTotals()
        seen: set[int] = set()
        for jid in self.job_ids(span):
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                for st in _seq(store.stageData(sid, False, None, False, None)):
                    if st.status().toString() != "COMPLETE":
                        continue
                    out.stages += 1
                    out.task_ms += st.executorRunTime()
                    out.gc_ms += st.jvmGcTime()
                    out.shuffle_write_bytes += st.shuffleWriteBytes()
                    out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    out.peak_mem_bytes = max(out.peak_mem_bytes, float(st.peakExecutionMemory()))
                    if st.numCompleteTasks() >= 2:
                        summary = store.taskSummary(sid, st.attemptId(), quantiles)
                        if summary.isDefined():
                            rt = summary.get().executorRunTime()
                            med, mx = float(rt.apply(0)), float(rt.apply(1))
                            if med > 0:
                                out.max_skew = max(out.max_skew, mx / med)
        return out

    def plan_totals(self, span: Span) -> PlanTotals:
        """Operator counts and summed SQL metrics over every SQL execution
        whose jobs belong to the span's job group."""
        jobs = set(self.job_ids(span))
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = PlanTotals()
        for ex in _seq(store.executionsList()):
            ex_jobs = {int(k) for k in _seq(ex.jobs().keys())}
            if not ex_jobs & jobs:
                continue
            values = store.executionMetrics(ex.executionId())
            for node in _seq(store.planGraph(ex.executionId()).allNodes()):
                name = node.name()
                out.nodes[name] = out.nodes.get(name, 0) + 1
                for m in _seq(node.metrics()):
                    acc = m.accumulatorId()
                    text = values.get(acc).get() if values.contains(acc) else None
                    key = (name, m.name())
                    out.metrics[key] = out.metrics.get(key, 0.0) + parse_metric(text)
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        """Write every span (and optional run details) as one JSON file."""
        doc = {"spans": [asdict(s) for s in self.spans], **(extra or {})}
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")
