"""Span tracing from outside the program, and Spark event-log parsing.

The tracer wraps public methods of the program's classes so that each call
records a span (name, start, end, parent, batch id) in memory. Nothing is
written until the run ends. A span's self time is its duration minus the
time its child spans cover; children always run on the caller's thread, so
they nest inside the parent interval.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass

from pyspark import SparkContext


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    batch: int | None = None
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    """In-memory span recorder. ``wrap`` patches a method of a class;
    ``restore`` undoes every patch."""

    JOB_TAG = "perfbench.batch"

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.enabled = True

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, batch: int | None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if batch is None and parent is not None:
            batch = parent.batch
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), parent=parent.sid if parent else None, batch=batch)
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        stack = self._stack()
        stack.pop()
        if sp.parent is not None:
            self.spans[sp.parent].children_s += sp.dur

    def wrap(self, cls: type, attr: str, name: str, batch_arg: int | None = None, tag_jobs: bool = False) -> None:
        """Record a span around every call of ``cls.attr``, if the class has
        it. ``batch_arg`` is the index of the positional argument (after
        self) that carries the batch id. With ``tag_jobs`` the calling
        thread's Spark jobs carry the batch id as the local property
        ``JOB_TAG`` for the call's duration, so the event log can tell them
        from jobs other threads run at the same time."""
        orig = getattr(cls, attr, None)
        if orig is None:
            return
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            batch = None
            if batch_arg is not None and len(args) > batch_arg + 1:
                batch = args[batch_arg + 1]
            sp = tracer._open(name, batch if isinstance(batch, int) else None)
            sc = SparkContext._active_spark_context if tag_jobs else None
            prev = sc.getLocalProperty(Tracer.JOB_TAG) if sc else None
            if sc:
                sc.setLocalProperty(Tracer.JOB_TAG, str(sp.batch))
            try:
                return orig(*args, **kwargs)
            finally:
                if sc:
                    sc.setLocalProperty(Tracer.JOB_TAG, prev)
                tracer._close(sp)

        self._patches.append((cls, attr, vars(cls).get(attr, _MISSING)))
        setattr(cls, attr, wrapper)

    def restore(self) -> None:
        for cls, attr, orig in reversed(self._patches):
            if orig is _MISSING:  # the method was inherited
                delattr(cls, attr)
            else:
                setattr(cls, attr, orig)
        self._patches.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def records(self) -> list[dict]:
        """Every span as a plain record, for the run's report."""
        return [
            {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "batch": s.batch, "self_s": s.self_s}
            for s in self.spans
        ]


_MISSING = object()


# --------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> dict:
    """Parse Spark's JSON event log into jobs (id, stages, the ``JOB_TAG``
    local property) and per-task metrics. Returns {"jobs": [...],
    "tasks": [...]}."""
    jobs, tasks = [], []
    paths = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names if not n.startswith("appstatus")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    jobs.append({
                        "id": e["Job ID"], "stages": e.get("Stage IDs", []),
                        "tag": (e.get("Properties") or {}).get(Tracer.JOB_TAG),
                    })
                elif '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": (e["Stage ID"], e.get("Stage Attempt ID", 0)),
                        "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                        "gc": m.get("JVM GC Time", 0) / 1000.0,
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "shuffle": sw.get("Shuffle Bytes Written", 0),
                    })
    return {"jobs": jobs, "tasks": tasks}


def spark_metrics(ev: dict, batches: set[str]) -> dict:
    """Event-log figures of the jobs tagged with one of ``batches`` (the
    batch ids the workload applied): jobs per batch, shuffle and spill
    bytes, GC seconds and task skew (median over stages with ≥4 tasks of
    max/median task time). Jobs other threads ran meanwhile carry no tag
    and are left out."""
    mine = [j for j in ev["jobs"] if j["tag"] in batches]
    stages = {s for j in mine for s in j["stages"]}
    per_batch = [sum(1 for j in mine if j["tag"] == b) for b in sorted(batches)]
    tasks = [t for t in ev["tasks"] if t["stage"][0] in stages]
    by_stage: dict = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["dur"])
    skews = [
        max(d) / statistics.median(d)
        for d in by_stage.values()
        if len(d) >= 4 and statistics.median(d) > 0
    ]
    return {
        "spark.jobs_per_batch": statistics.median(per_batch) if per_batch else 0.0,
        "spark.shuffle_bytes": sum(t["shuffle"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.gc_s": sum(t["gc"] for t in tasks),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }
