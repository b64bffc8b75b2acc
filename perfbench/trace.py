"""Spans, Spark job counts and event-log metrics, driven from outside
the program.

``Tracer.span(layer)`` wraps one call into a layer's public function.
With tracing on, it tags the Spark jobs started inside with a job
group of their own and, on exit, reads the group's job, stage and
task counts from ``SparkContext.statusTracker()``. Spans nest: a
child span takes over the job group and hands it back on exit, so
each job is charged to the innermost span that ran it. With tracing
off a span only records its wall time. Spans stay in memory until the
run writes them out.

``EventLog`` parses the uncompressed Spark event log (written only
in traced runs) for what the status tracker does not have: executor
time, CPU and GC, bytes read, written, shuffled and spilled, the
Arrow bytes sent to and from Python workers, and the wall time in
which no job ran.
"""

from __future__ import annotations

import glob
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark import SparkContext


@dataclass
class Span:
    name: str
    op: int  # index of the measured operation the span belongs to (-1: none)
    parent: str | None
    start: float  # time.time()
    end: float = 0.0
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; counts Spark work per span when ``enabled``."""

    def __init__(self, sc: SparkContext, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = -1
        self.bookkeeping_s = 0.0  # time spent reading the status tracker
        self._stack: list[Span] = []
        self._n = 0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name, interruptOnCancel=False)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, parent.name if parent else None, time.time())
        if self.enabled:
            self._n += 1
            s.group = f"perfbench-{self._n}"
            self._set_group(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                t0 = time.perf_counter()
                self._set_group(parent)
                self._count(s)
                self.bookkeeping_s += time.perf_counter() - t0
            self.spans.append(s)

    def _count(self, s: Span) -> None:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(s.group)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            # a stage whose shuffle output an earlier job already made
            # is skipped: it is listed by the job but runs no task
            if info is not None and info.numCompletedTasks + info.numFailedTasks > 0:
                s.stages += 1
                s.tasks += info.numCompletedTasks + info.numFailedTasks
        s.jobs = len(job_ids)

    def measured(self, name: str) -> list[Span]:
        """Spans named ``name`` that belong to a measured operation."""
        return [s for s in self.spans if s.name == name and s.op >= 0]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "group": s.group,
                    "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
                }) + "\n")


# Arrow batches crossing the JVM/Python boundary, as SQL metrics of
# the Python exec nodes (ArrowEvalPython, MapInPandas, FlatMapGroups…)
_TO_PYTHON = "data sent to Python workers"
_FROM_PYTHON = "data returned from Python workers"


class EventLog:
    """Task, stage and job records of one finished application, keyed
    by the job group (= span) that ran them."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(f"{log_dir}/*") if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
        self.path = files[0]
        self.job_group: dict[int, str | None] = {}
        self.job_span: dict[int, tuple[int, int]] = {}  # job -> (submit ms, end ms)
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []  # per task: stage + metric dict
        with open(self.path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    j = ev["Job ID"]
                    self.job_group[j] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    self.job_span[j] = (ev["Submission Time"], ev["Submission Time"])
                    for sid in ev["Stage IDs"]:
                        self.stage_job.setdefault(sid, j)
                elif kind == "SparkListenerJobEnd":
                    j = ev["Job ID"]
                    self.job_span[j] = (self.job_span[j][0], ev["Completion Time"])
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(_task_record(ev))

    def totals(self, groups: set[str]) -> dict[str, float]:
        """Sum of task metrics over the jobs of the given job groups."""
        out: dict[str, float] = defaultdict(float)
        for t in self.tasks:
            j = self.stage_job.get(t["stage"])
            if j is not None and self.job_group.get(j) in groups:
                for k, v in t.items():
                    if k != "stage":
                        out[k] += v
        return out

    def idle_ms(self, groups: set[str], start_ms: float, end_ms: float) -> float:
        """Wall time in [start, end] during which no job of the given
        groups was running."""
        spans = sorted(
            (max(a, start_ms), min(b, end_ms))
            for j, (a, b) in self.job_span.items()
            if self.job_group.get(j) in groups
        )
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        return max(0.0, (end_ms - start_ms) - busy)


def _task_record(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    rec = {
        "stage": ev["Stage ID"],
        "busy_ms": m.get("Executor Run Time", 0) + m.get("Executor Deserialize Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0) + m.get("Executor Deserialize CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "bytes_read": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "to_python": 0,
        "from_python": 0,
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
        name = acc.get("Name")
        if name == _TO_PYTHON:
            rec["to_python"] += int(acc.get("Update") or 0)
        elif name == _FROM_PYTHON:
            rec["from_python"] += int(acc.get("Update") or 0)
    return rec
