"""Spans, Spark event-log parsing and job attribution for the traced run.

Spans are recorded from the benchmark's own code around each unit, drain,
query and public ``DeltaliteTable`` method, kept in memory and written out
as JSONL at the end. Every Spark job from the event log is attributed to the
innermost span open when it was submitted; a span's self time is its wall
minus the part of it its children cover.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Closed-loop span recorder: one stack shared by the main thread and the
    ``foreachBatch`` callback threads, which never run concurrently with it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[type, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        with self._lock:
            parent = self._stack[-1].id if self._stack else None
            s = Span(len(self.spans), parent, name, layer, time.time(), attrs=attrs)
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            with self._lock:
                s.t1 = time.time()
                self._stack.remove(s)

    def wrap_methods(self, cls: type, names: list[str], layer: str) -> None:
        """Record a span around each call of ``cls.<name>`` until :meth:`unwrap`."""
        def traced(name, orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                with self.span(f"{layer}.{name}", layer, method=name):
                    return orig(*a, **kw)
            return wrapper

        for name in names:
            orig = getattr(cls, name)
            self._patched.append((cls, name, orig))
            setattr(cls, name, traced(name, orig))

    def unwrap(self) -> None:
        for cls, name, orig in reversed(self._patched):
            setattr(cls, name, orig)
        self._patched.clear()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.children(s)
        return out

    def self_time(self, span: Span) -> float:
        kids = [(c.t0, c.t1) for c in self.children(span)]
        return span.wall - union_length(kids, span.t0, span.t1)

    def innermost(self, t: float) -> Span | None:
        """Deepest span open at time ``t``."""
        best, best_depth = None, -1
        for s in self.spans:
            if s.t0 <= t <= s.t1:
                depth, p = 0, s.parent
                while p is not None:
                    depth, p = depth + 1, self.spans[p].parent
                if depth > best_depth:
                    best, best_depth = s, depth
        return best

    def write_jsonl(self, path: Path) -> None:
        """One line per span, with its self time as ``self_s``."""
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": self.self_time(s)}) + "\n")


def maybe_span(tracer: Tracer | None, name: str, layer: str, **attrs):
    """``tracer.span(...)``, or a no-op context in untraced runs."""
    return tracer.span(name, layer, **attrs) if tracer else nullcontext()


@dataclass
class Stage:
    id: int
    tasks: int = 0
    run_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    input_rows: int = 0
    spill: int = 0


@dataclass
class Job:
    id: int
    t0: float
    t1: float
    stages: list[Stage]
    span: int | None = None

    @property
    def tasks(self) -> int:
        return sum(s.tasks for s in self.stages)

    @property
    def task_s(self) -> float:
        return sum(s.run_s for s in self.stages)


def parse_event_log(path: Path) -> list[Job]:
    """Jobs with their stages' task metrics from one Spark event log file."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, Stage] = {}
    with path.open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = Job(jid, ev["Submission Time"] / 1000, 0.0, [])
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                st.tasks += 1
                st.run_s += m.get("Executor Run Time", 0) / 1000
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
                st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for sid, st in stages.items():
        if sid in stage_job:
            jobs[stage_job[sid]].stages.append(st)
    for j in jobs.values():
        if not j.t1:
            j.t1 = j.t0
    return sorted(jobs.values(), key=lambda j: j.t0)


def attribute(tracer: Tracer, jobs: list[Job]) -> None:
    for j in jobs:
        s = tracer.innermost(j.t0)
        j.span = s.id if s is not None else None


def jobs_of(tracer: Tracer, jobs: list[Job], span: Span, subtree: bool = True) -> list[Job]:
    ids = {s.id for s in tracer.subtree(span)} if subtree else {span.id}
    return [j for j in jobs if j.span in ids]


def driver_gap(span: Span, jobs: list[Job]) -> float:
    """Span wall minus the union of its jobs' intervals."""
    return span.wall - union_length([(j.t0, j.t1) for j in jobs], span.t0, span.t1)
