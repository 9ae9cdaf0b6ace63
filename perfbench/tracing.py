"""Spans, Spark event-log parsing and the per-layer roll-up.

The benchmark times everything through :class:`Tracer` spans recorded in
memory (name, kind, start, end, parent). In a traced run each span that
issues Spark work also carries a job group, Spark writes its event log to a
benchmark-owned directory, and after the run :func:`parse_event_log` reads
that log offline. :func:`attribute` hangs every stage and job on the span
that launched it: by job group when the group names a span, otherwise on the
innermost span open at the stage's submission (the benchmark is one client
issuing one operation at a time, so only the running operation can own it).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Physical operators whose tasks run user code in Python workers. A stage
# counts as a Python stage when any RDD in it was created under one of
# these scopes, or is a PythonRDD (RDD-level Python functions).
PYTHON_SCOPES = frozenset(
    {
        "MapInArrow",
        "MapInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInArrow",
        "FlatMapCoGroupsInPandas",
        "FlatMapCoGroupsInArrow",
        "AggregateInPandas",
        "WindowInPandas",
        "ArrowWindowPython",
        "ArrowAggregatePython",
        "ArrowEvalPythonUDTF",
        "BatchEvalPythonUDTF",
    }
)


@dataclass
class Span:
    name: str
    kind: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. While ``sc`` is a SparkContext, a span opened
    with ``group=`` also sets that Spark job group for its duration."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.sc = None

    @contextmanager
    def span(self, name: str, kind: str, group: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, kind, time.time(), parent=parent, group=group, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        if group and self.sc is not None:
            self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.end = s.start + (time.perf_counter() - t0)
            self._stack.pop()
            if group and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


# --------------------------------------------------------------------------
# Event log


@dataclass
class StageRun:
    stage_id: int
    attempt: int
    group: str | None = None
    submit: float = 0.0
    complete: float = 0.0
    python: bool = False
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    span: int | None = None


@dataclass
class JobRun:
    job_id: int
    group: str | None
    submit: float
    span: int | None = None


def _is_python_stage(info: dict) -> bool:
    for rdd in info.get("RDD Info", []):
        if rdd.get("Name") == "PythonRDD":
            return True
        scope = rdd.get("Scope")
        if scope:
            try:
                name = json.loads(scope).get("name", "")
            except ValueError:
                continue
            if name.split(" (")[0] in PYTHON_SCOPES:
                return True
    return False


def parse_event_log(path: str) -> tuple[list[JobRun], list[StageRun]]:
    """Jobs and completed stage attempts, with summed task metrics, from one
    uncompressed Spark event log."""
    jobs: list[JobRun] = []
    stages: dict[tuple[int, int], StageRun] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(
                    JobRun(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0,
                    )
                )
            elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                st = stages.setdefault(key, StageRun(*key))
                props = ev.get("Properties") or {}
                st.group = props.get("spark.jobGroup.id", st.group)
                if info.get("Submission Time"):
                    st.submit = info["Submission Time"] / 1000.0
                if info.get("Completion Time"):
                    st.complete = info["Completion Time"] / 1000.0
                st.python = st.python or _is_python_stage(info)
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                st = stages.setdefault(key, StageRun(*key))
                m = ev.get("Task Metrics") or {}
                st.tasks += 1
                st.run_s += m.get("Executor Run Time", 0) / 1000.0
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill += m.get("Disk Bytes Spilled", 0)
                inp = m.get("Input Metrics") or {}
                st.input_bytes += inp.get("Bytes Read", 0)
                st.input_rows += inp.get("Records Read", 0)
    done = [s for s in stages.values() if s.complete]
    return jobs, sorted(done, key=lambda s: s.submit)


def attribute(spans: list[Span], jobs: list[JobRun], stages: list[StageRun]) -> None:
    """Set ``.span`` on every job and stage: the span whose job group (or
    ``run_id`` attribute, for streaming micro-batches, whose job group is the
    query's run id) matches, else the innermost span open at submission."""
    by_group: dict[str, int] = {}
    for i, s in enumerate(spans):
        for key in (s.group, s.attrs.get("run_id")):
            if key:
                by_group[key] = i

    def innermost(t: float) -> int | None:
        best = None
        for i, s in enumerate(spans):
            if s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
                best = i
        return best

    for x in [*jobs, *stages]:
        x.span = by_group.get(x.group) if x.group else None
        if x.span is None:
            x.span = innermost(x.submit)


# --------------------------------------------------------------------------
# Interval helpers


def clip(iv: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in iv if b > lo and a < hi]


def union_length(iv: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(iv):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
