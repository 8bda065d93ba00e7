"""In-memory spans for the traced run.

A span records its name, start, end, parent and request id; counts ride on
the span that measured them. Spark jobs become child spans too: after each
request the runner reads the jobs of that request's job group from Spark's
status store and hangs each job under the innermost span that was open when
the job was submitted, so a layer's self time excludes the execution it
triggered. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int = 0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover.
    Children may overlap each other (parallel jobs); overlap counts once."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(kids.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Span recorder. ``enabled=False`` makes every method a no-op, so the
    timed runs share the code path without recording anything."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.request = 0
        self.notes: dict[str, list[float]] = {}

    def note(self, name: str, value: float) -> None:
        """Record a per-request observation that is not a span."""
        if self.enabled:
            self.notes.setdefault(name, []).append(float(value))

    def new_request(self) -> int:
        self.request += 1
        return self.request

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                  request=self.request)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def add_child(self, name: str, start: float, end: float, counts: dict) -> None:
        """Hang a span measured elsewhere (a Spark job) under the innermost
        span of the current request that was open at ``start``."""
        parent = None
        best = None
        for i in range(len(self.spans) - 1, -1, -1):
            s = self.spans[i]
            if s.request != self.request:
                break
            if s.name.startswith("spark.") or not (s.start <= start <= s.end):
                continue
            if best is None or s.start >= best:
                parent, best = i, s.start
        self.spans.append(Span(name, start, end, parent, self.request, dict(counts)))


class SparkProbe:
    """Reads a job group's jobs and stage metrics from the SparkContext's
    status store (works with the UI disabled). Each read is a handful of
    py4j calls, so only the traced run uses it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def group_jobs(self, group: str) -> list[dict]:
        jobs = []
        for jid in sorted(self.tracker.getJobIdsForGroup(group)):
            info = self.tracker.getJobInfo(jid)
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            counts = {"jobs": 1, "stages": 0, "tasks": 0, "failed_tasks": 0,
                      "task_s": 0.0, "gc_s": 0.0, "input_bytes": 0, "input_rows": 0,
                      "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
            for sid in info.stageIds if info else ():
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:
                    continue
                if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
                    continue
                counts["stages"] += 1
                counts["tasks"] += sd.numCompleteTasks()
                counts["failed_tasks"] += sd.numFailedTasks()
                counts["task_s"] += sd.executorRunTime() / 1000.0
                counts["gc_s"] += sd.jvmGcTime() / 1000.0
                counts["input_bytes"] += sd.inputBytes()
                counts["input_rows"] += sd.inputRecords()
                counts["shuffle_read_bytes"] += sd.shuffleReadBytes()
                counts["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            jobs.append({"start": sub.get().getTime() / 1000.0,
                         "end": done.get().getTime() / 1000.0, "counts": counts})
        return jobs
