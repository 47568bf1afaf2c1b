"""Measurement helpers: order statistics, in-memory spans, and the
py4j / Spark status readers the traced run uses.  Everything here
observes the program from outside: spans wrap calls into the program's
functions, counts come from Spark's own status store."""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional

MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> Optional[int]:
    """The highest whole percentile p >= 50 with at least `min_beyond`
    of `n` samples strictly beyond it, or None when even the median has
    fewer (n < 2 * min_beyond)."""
    best = None
    for p in range(50, 100):
        if n - math.ceil(p * n / 100) >= min_beyond:
            best = p
    return best


def percentile(xs: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s) / 100) - 1)]


def summarize(xs: list[float]) -> dict:
    """Median, the tail percentile the sample count supports, and n."""
    p = tail_percentile(len(xs))
    out = {"n": len(xs), "p50": median(xs), "tail_pct": p}
    out["tail"] = percentile(xs, p) if p is not None else None
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    rid: Optional[str] = None


@dataclass
class Tracer:
    """Spans kept in memory; written out once, when the run ends."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    rid: Optional[str] = None

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, rid=self.rid))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        while self._stack and self._stack[-1] != idx:
            self._stack.pop()  # children left open by an exception
        if self._stack:
            self._stack.pop()

    def is_open(self, idx: Optional[int]) -> bool:
        return idx is not None and idx in self._stack

    @contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield idx
        finally:
            self.close(idx)

    def records(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            children.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return [
        (s.end - s.start) - _covered(children.get(i, [])) for i, s in enumerate(spans)
    ]


class Py4jCounter:
    """Counts commands the Python driver sends to the JVM by wrapping the
    gateway client's `send_command` (every JavaObject looks it up on the
    client instance, so the wrapper sees every call)."""

    def __init__(self, spark):
        self.n = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def send_command(*args, **kwargs):
            self.n += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command

    def remove(self) -> None:
        self._client.send_command = self._orig


class SparkStats:
    """Job/stage/task/shuffle figures per job group, plus executor GC and spill,
    from `statusTracker` and the JVM `statusStore` (works with the UI
    off)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def group(self, gid: str) -> dict:
        jobs = self.tracker.getJobIdsForGroup(gid)
        tasks = stages = shuffle = 0
        job_ms = 0.0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
                    shuffle += self.store.lastStageAttempt(sid).shuffleWriteBytes()
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                job_ms += done.get().getTime() - sub.get().getTime()
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "job_ms": job_ms,
                "shuffle_bytes": float(shuffle)}

    def gc_ms(self) -> float:
        execs = self.store.executorList(True)
        it = execs.iterator()
        total = 0
        while it.hasNext():
            total += it.next().totalGCTime()
        return float(total)

    def spill_bytes(self) -> float:
        """Memory + disk bytes spilled by every stage still retained."""
        s = self.store
        # py4j cannot fill Scala default arguments; fetch them by name
        defaults = [getattr(s, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        it = s.stageList(None, *defaults).iterator()
        total = 0
        while it.hasNext():
            st = it.next()
            total += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return float(total)
