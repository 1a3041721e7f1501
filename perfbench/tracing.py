"""Spans around the benchmark's calls into each layer, and the Spark
event-log metrics attributed to them.

Every timed op runs inside :meth:`Tracer.span`. In a traced run the span
also tags the op's Spark jobs with ``setJobGroup(<span id>)``, so after the
session stops :func:`parse_event_log` can hand each span the jobs, stages
and task metrics it caused. Untraced runs record only the wall times.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time
from dataclasses import asdict, dataclass, field

# Physical operators that run Python (a pandas/Arrow UDF or a Python UDTF).
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow", "MapInPandas", "MapInArrow",
    "AggregateInPandas", "WindowInPandas", "ArrowWindowPython",
    "FlatMapGroupsInPandasWithState", "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF", "PythonMapInArrow",
)


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = Span(f"s{len(self.spans)}", name, layer,
                  self._stack[-1] if self._stack else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp.id)
        if self.enabled:
            self.spark.sparkContext.setJobGroup(sp.id, name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.enabled:
                if self._stack:
                    self.spark.sparkContext.setJobGroup(self._stack[-1], "")
                else:
                    self.spark.sparkContext.setLocalProperty(
                        "spark.jobGroup.id", None)

    def children(self) -> dict[str | None, list[Span]]:
        """Parent span id -> its child spans, in start order."""
        out: dict[str | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def python_node_count(df) -> int:
    """Python operators in the physical plan (plans only, runs no job)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\b(?:%s)\b" % "|".join(PYTHON_NODES), plan))


@dataclass
class Stage:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    in_bytes: int = 0
    in_rows: int = 0
    task_run: list = field(default_factory=list)
    python: bool = False


@dataclass
class Job:
    group: str | None
    start: float
    end: float = 0.0
    stages: list = field(default_factory=list)


def _log_files(log_dir: str) -> list[str]:
    """Event-log files in write order: a plain file, or the rolling
    ``eventlog_v2_*/events_<n>_*`` parts."""
    plain = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    parts = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return plain + sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def parse_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000, stages=ev["Stage IDs"])
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    st = stages.setdefault(ev["Stage ID"], Stage())
                    st.tasks += 1
                    st.run_s += m["Executor Run Time"] / 1e3
                    st.cpu_s += m["Executor CPU Time"] / 1e9
                    st.gc_s += m["JVM GC Time"] / 1e3
                    sr = m["Shuffle Read Metrics"]
                    st.shuffle_read += (sr["Remote Bytes Read"]
                                        + sr["Local Bytes Read"])
                    st.shuffle_write += (
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
                    st.spill += (m["Memory Bytes Spilled"]
                                 + m["Disk Bytes Spilled"])
                    st.in_bytes += m["Input Metrics"]["Bytes Read"]
                    st.in_rows += m["Input Metrics"]["Records Read"]
                    st.task_run.append(m["Executor Run Time"] / 1e3)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage())
                    st.python = any(
                        "Python" in (a.get("Name") or "")
                        for a in info.get("Accumulables", []))
    return jobs, stages


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def span_jobs(spans: list[Span], jobs: dict[int, Job]) -> dict[str, list[Job]]:
    """Span id -> the jobs its own job group ran (children excluded)."""
    out: dict[str, list[Job]] = {s.id: [] for s in spans}
    for j in jobs.values():
        if j.group in out:
            out[j.group].append(j)
    return out


def job_metrics(jobs: list[Job], stages: dict[int, Stage]) -> dict:
    """Totals over the stages that really ran for ``jobs``."""
    seen: set[int] = set()
    out = dict(jobs=len(jobs), stages=0, tasks=0, run_s=0.0, cpu_s=0.0,
               gc_s=0.0, shuffle_read=0, shuffle_write=0, spill=0,
               in_bytes=0, in_rows=0, python_s=0.0, skew=1.0,
               jobs_s=_union([(j.start, j.end) for j in jobs]))
    slowest = 0.0
    for j in jobs:
        for sid in j.stages:
            st = stages.get(sid)
            if st is None or sid in seen or not st.tasks:
                continue  # skipped stage (its shuffle output was reused)
            seen.add(sid)
            out["stages"] += 1
            out["tasks"] += st.tasks
            for k in ("run_s", "cpu_s", "gc_s", "shuffle_read",
                      "shuffle_write", "spill", "in_bytes", "in_rows"):
                out[k] += getattr(st, k)
            if st.python:
                out["python_s"] += max(0.0, st.run_s - st.cpu_s)
            if st.run_s > slowest:
                slowest = st.run_s
                med = statistics.median(st.task_run)
                out["skew"] = max(st.task_run) / med if med > 0 else 1.0
    return out
