"""Spans around calls into the program, and Spark's own counters for them.

Spark keeps per-job, per-stage and per-SQL-execution statistics in two
status stores, both reachable with the UI disabled:

* ``SparkContext.statusStore`` (``AppStatusStore``): jobs and the last
  attempt of each stage — tasks, run/CPU/GC time, shuffle bytes, spill,
  submission and completion times;
* ``SharedState.statusStore`` (``SQLAppStatusStore``): the plan graph and
  SQL metrics of each execution, which carry the Python-worker metrics of
  the MapInPandas / ArrowEvalPython nodes.

A span only records, at its boundaries, the id the DAG scheduler will
give the next job (assigned synchronously when an action is submitted).
Jobs are attributed to the innermost span whose id interval holds them,
so a job launched by a thread that does not inherit the caller's job
group is still counted.  Stages and SQL executions follow their jobs.
Counters are resolved after the listener bus has drained, once per pass,
outside the timed region.
"""

from __future__ import annotations

import contextlib
import re
import time
from dataclasses import dataclass, field

COUNTERS = ["jobs", "stages", "skipped_stages", "tasks", "failed_tasks",
            "retried_stages", "task_run_s", "task_cpu_s", "gc_s",
            "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
            "python_s", "python_start_s", "python_mb"]

_MB = 1e6
_PY_NODE = re.compile(r"Python|Pandas|Arrow")
_PY_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "python_mb",
    "data returned from Python workers": "python_mb",
}
_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1 / _MB, "KiB": 1024 / _MB, "MiB": 1024 ** 2 / _MB,
          "GiB": 1024 ** 3 / _MB, "TiB": 1024 ** 4 / _MB}
_VALUE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def _metric_value(text: str) -> float:
    """Seconds or MB from a formatted SQL metric: the total is the first
    value on the last line (``"total (min, med, max ...)\\n5.2 s (...)"``)."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _epoch_s(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


@dataclass
class Span:
    name: str
    parent: int | None
    trace_id: str
    start: float            # epoch seconds
    end: float = 0.0
    job0: int = 0           # first job id at or after the start
    job1: int = 0           # first job id at or after the end
    counters: dict = field(default_factory=dict)
    busy: list = field(default_factory=list)   # stage [start, end] intervals

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory: name, start, end, parent, trace id, plus the
    Spark counters of the jobs launched inside each."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sql_seen = self._drain_and_count()

    def _next_job(self) -> int:
        return self.sc.dagScheduler().nextJobId()

    def _drain_and_count(self) -> int:
        self.sc.listenerBus().waitUntilEmpty()
        return self.sql.executionsCount()

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str = ""):
        """A span nested in the innermost open one; a root span takes
        ``trace_id``, a nested one its parent's."""
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            trace_id = self.spans[parent].trace_id
        s = Span(name, parent, trace_id, time.time(), job0=self._next_job())
        self._stack.append(len(self.spans))
        self.spans.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.job1 = self._next_job()
            s.end = time.time()

    def self_time(self, i: int) -> float:
        """Duration of span ``i`` minus the time its children cover."""
        kids = sum(s.dur for s in self.spans if s.parent == i)
        return self.spans[i].dur - kids

    # -- resolution, after the timed region ------------------------------
    def resolve(self) -> None:
        """Fill ``counters`` of every span that ended since the last call."""
        n_sql = self._drain_and_count()
        new = [s for s in self.spans if not s.counters]
        owner = {j: s for j, s in self._owners().items() if not s.counters}
        for s in new:
            s.counters = dict.fromkeys(COUNTERS, 0.0)
        seen_stages: set[int] = set()
        for job_id in sorted(owner):
            self._add_job(owner[job_id], job_id, seen_stages)
        for ex in _seq(self.sql.executionsList(self._sql_seen, n_sql - self._sql_seen)):
            jobs = [j for j in _seq(ex.jobs().keys().toSeq()) if j in owner]
            if jobs:
                self._add_python(owner[min(jobs)], ex.executionId())
        self._sql_seen = n_sql

    def _owners(self) -> dict[int, Span]:
        """job id -> innermost span whose interval holds it."""
        owner: dict[int, Span] = {}
        for s in sorted(self.spans, key=lambda s: s.job1 - s.job0, reverse=True):
            for j in range(s.job0, s.job1):
                owner[j] = s
        return owner

    def _add_job(self, span: Span, job_id: int, seen: set[int]) -> None:
        c = span.counters
        try:
            job = self.sc.statusStore().job(job_id)
        except Exception:           # id taken, but the job never reached the store
            return
        c["jobs"] += 1
        c["skipped_stages"] += job.numSkippedStages()
        job_sub = _epoch_s(job.submissionTime()) or 0.0
        for sid in _seq(job.stageIds()):
            if sid in seen:
                continue
            try:
                st = self.sc.statusStore().lastStageAttempt(sid)
            except Exception:       # never attempted (skipped in this job)
                continue
            sub = _epoch_s(st.submissionTime())
            # a stage computed by an earlier job is reused, not re-run
            if sub is None or sub + 1e-3 < job_sub or st.status().toString() == "SKIPPED":
                continue
            seen.add(sid)
            c["stages"] += 1
            c["retried_stages"] += st.attemptId() > 0
            c["tasks"] += st.numTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["task_run_s"] += st.executorRunTime() / 1e3
            c["task_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
            end = _epoch_s(st.completionTime()) or time.time()
            span.busy.append((sub, end))

    def _add_python(self, span: Span, execution_id: int) -> None:
        values = self.sql.executionMetrics(execution_id)
        for node in _seq(self.sql.planGraph(execution_id).allNodes()):
            if not _PY_NODE.search(node.name()):
                continue
            for m in _seq(node.metrics()):
                key = _PY_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                if key and v.isDefined():
                    span.counters[key] += _metric_value(v.get())


def driver_gap(spans: list[Span], i: int) -> float:
    """Part of span ``i``'s wall during which no stage of it or of its
    descendants was running."""
    span = spans[i]
    family = {i}
    for j, s in enumerate(spans):
        if s.parent in family:
            family.add(j)
    ivs = sorted((max(a, span.start), min(b, span.end))
                 for j in family for a, b in spans[j].busy)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            covered += (cur_b - cur_a) if cur_b is not None else 0.0
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    covered += (cur_b - cur_a) if cur_b is not None else 0.0
    return max(span.dur - covered, 0.0)
