"""Spans recorded around the benchmark's calls into the engine, and the
Spark event-log counts attributed to them.

A span is ``(id, parent, name, layer, start, end, attrs)`` on the wall
clock (epoch seconds). Spans stay in memory and are written out as JSON
lines when the run ends. Spark jobs are read back from the event log
after the session stops and each is attributed to the innermost span
whose time window contains the job's submission: jobs started on
helper threads (which carry no job group) and jobs the status tracker
has already forgotten are attributed the same way as any other.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: RDD scope names of physical operators that evaluate Python code in
#: a worker process (Arrow / pickled UDFs, ``mapInPandas``, ...).
_PYTHON_SCOPE = re.compile(r"Python|Pandas|InArrow")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records nested spans while ``enabled``; a no-op otherwise."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, layer, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


@dataclass
class StageStats:
    python: bool = False
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    max_task_s: float = 0.0


@dataclass
class Job:
    id: int
    submit: float
    end: float
    stages: list[int]
    group: str | None
    query_id: str | None


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, StageStats]]:
    """Jobs and per-stage task totals from every event log in ``log_dir``.

    Stage attempts are folded into their stage; skipped stages (never
    submitted) have no entry.
    """
    jobs: dict[int, Job] = {}
    stages: dict[int, StageStats] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"] / 1e3, 0.0,
                        [s["Stage ID"] for s in ev["Stage Infos"]],
                        props.get("spark.jobGroup.id"),
                        props.get("sql.streaming.queryId"),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], StageStats())
                    st.python = st.python or any(
                        _PYTHON_SCOPE.search(
                            json.loads(r.get("Scope") or "{}").get("name", "")
                        )
                        for r in info["RDD Info"]
                    )
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    st = stages.setdefault(ev["Stage ID"], StageStats())
                    info = ev["Task Info"]
                    rd = m.get("Shuffle Read Metrics", {})
                    wr = m.get("Shuffle Write Metrics", {})
                    st.tasks += 1
                    st.run_s += m["Executor Run Time"] / 1e3
                    st.cpu_s += m["Executor CPU Time"] / 1e9
                    st.gc_s += m["JVM GC Time"] / 1e3
                    st.shuffle_bytes += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
                    st.spill_bytes += (
                        m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    )
                    st.max_task_s = max(
                        st.max_task_s,
                        (info["Finish Time"] - info["Launch Time"]) / 1e3,
                    )
    return sorted(jobs.values(), key=lambda j: j.submit), stages


def attribute(jobs: list[Job], spans: list[Span], slack: float = 0.002):
    """Map each job to the innermost span containing its submission.

    Returns ``(by_span, unattributed)`` where ``by_span`` maps span id
    to its jobs. ``slack`` absorbs the event log's millisecond clock.
    """
    by_span: dict[int, list[Job]] = {}
    unattributed: list[Job] = []
    for job in jobs:
        best = None
        for s in spans:
            if s.start - slack <= job.submit <= s.end + slack and (
                best is None or s.end - s.start < best.end - best.start
            ):
                best = s
        if best is None:
            unattributed.append(job)
        else:
            by_span.setdefault(best.id, []).append(job)
    return by_span, unattributed


def busy_seconds(jobs: list[Job], start: float, end: float) -> float:
    """Wall time within ``[start, end]`` during which any job ran."""
    iv = sorted(
        (max(j.submit, start), min(j.end or end, end)) for j in jobs
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_counts(jobs: list[Job], stages: dict[int, StageStats]) -> dict:
    """Stage, task, shuffle, spill, CPU, GC and Python-wait totals."""
    seen: set[int] = set()
    out = dict(
        stages=0, tasks=0, shuffle_bytes=0, spill_bytes=0,
        task_cpu_s=0.0, task_gc_s=0.0, max_task_s=0.0, python_wait_s=0.0,
    )
    for job in jobs:
        for sid in job.stages:
            st = stages.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            out["stages"] += 1
            out["tasks"] += st.tasks
            out["shuffle_bytes"] += st.shuffle_bytes
            out["spill_bytes"] += st.spill_bytes
            out["task_cpu_s"] += st.cpu_s
            out["task_gc_s"] += st.gc_s
            out["max_task_s"] = max(out["max_task_s"], st.max_task_s)
            if st.python:
                out["python_wait_s"] += max(0.0, st.run_s - st.cpu_s)
    return out
