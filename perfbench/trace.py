"""Spans and per-layer counters, recorded from outside the engine.

Spans are opened by the benchmark's own code around each call into a
layer. Counters come from Spark's status stores (``AppStatusStore`` for
jobs and stages, ``SQLAppStatusStore`` for per-operator SQL metrics) and
from a ``StreamingQueryListener``; all of them work with
``spark.ui.enabled=false``. The benchmark drives one job at a time, so
everything Spark records between two snapshots belongs to the job that
ran between them.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    job: int
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Spans of one job share ``job``; a span's
    parent is the innermost span open when it started. When disabled,
    ``span`` costs one branch and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.job = -1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, self.job, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int, **attrs) -> None:
        """Record a finished span under span index ``parent`` (for work
        whose timing arrives after the fact, such as micro-batches)."""
        if self.enabled:
            self.spans.append(Span(name, self.job, start, end, parent, attrs))


def self_times(spans: list[Span], base: int = 0) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part
    of its interval covered by its children (overlapping children count
    once). ``spans`` is a slice of the tracer's list starting at ``base``,
    whose parent indices refer to the whole list."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent - base].append(s)
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.name] += (s.end - s.start) - covered
    return dict(out)


# Stage fields summed over the stages of one job: metric -> (StageData
# getter, scale to SI units).
STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill_bytes": ("diskBytesSpilled", 1),
}

# SQL metric names (as SQLAppStatusStore labels them) -> counter name;
# the output rows counted are those of Python-evaluating nodes only
SQL_METRICS = {
    "scan time": "scan_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                "PythonMapInArrow", "ArrowWindowPython", "AggregateInPandas")


def _parse_metric(text: str) -> float:
    """Sum value of one SQL metric string. Timing and size metrics are
    rendered as "total (min, med, max ...)\\n12.3 s (...)" style text;
    plain counts as "1,234"."""
    if not text:
        return 0.0
    line = text.strip().splitlines()
    head = line[-1] if len(line) > 1 else line[0]
    tok = head.split("(")[0].strip().replace(",", "")
    parts = tok.split()
    if not parts:
        return 0.0
    try:
        value = float(parts[0])
    except ValueError:
        return 0.0
    unit = parts[1] if len(parts) > 1 else ""
    scale = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1, "KiB": 1024,
             "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}.get(unit, 1)
    return value * scale


class StatusReader:
    """Reads what Spark recorded for the jobs and SQL executions started
    since the last ``mark``."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.app = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.mark()

    def next_job_id(self) -> int:
        return self.jsc.dagScheduler().numTotalJobs()

    def mark(self) -> None:
        self._job = self.next_job_id()
        self._exec = self.sql.executionsCount()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def collect(self) -> dict[str, float]:
        """Counters of everything since the last mark; moves the mark."""
        self.drain()
        out: dict[str, float] = defaultdict(float)
        first, last = self._job, self.next_job_id()
        stages = set()
        for jid in range(first, last):
            job = self.app.job(jid)
            out["jobs"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        for sid in stages:
            try:
                st = self.app.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for key, (getter, scale) in STAGE_FIELDS.items():
                out[key] += getattr(st, getter)() * scale
            out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"],
                                             st.peakExecutionMemory())
        n_exec = self.sql.executionsCount()
        if n_exec > self._exec:
            execs = self.sql.executionsList(self._exec, n_exec - self._exec)
            for i in range(execs.size()):
                self._sql_metrics(execs.apply(i).executionId(), out)
        self._job, self._exec = last, n_exec
        return dict(out)

    def _sql_metrics(self, eid: int, out: dict) -> None:
        values = self.sql.executionMetrics(eid)
        nodes = self.sql.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            python = node.name().startswith(PYTHON_NODES)
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                name = m.name()
                if python and name == "number of output rows":
                    key = "python_rows"
                else:
                    key = SQL_METRICS.get(name)
                if key is None:
                    continue
                value = values.get(m.accumulatorId())  # scala Option
                if value.isDefined():
                    out[key] += _parse_metric(value.get())


class BatchListener:
    """Collects streaming progress events per query name. Registered on
    the session during traced rounds only."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer._add(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        self._lock = threading.Lock()
        self.progress: dict[str, list] = defaultdict(list)

    def _add(self, p) -> None:
        state = p.stateOperators or []
        rec = {
            "batch": p.batchId,
            "timestamp": p.timestamp,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
            "state_rows": sum(s.numRowsTotal for s in state),
            "state_commit_ms": sum(s.commitTimeMs for s in state),
        }
        with self._lock:
            self.progress[p.name].append(rec)

    def take(self, name: str) -> list[dict]:
        with self._lock:
            return self.progress.pop(name, [])
