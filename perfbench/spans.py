"""Spans, per-layer counters and summary statistics.

Every span is recorded from the benchmark's side of a layer boundary:
the harness times its own calls into the program's public functions
and reads Spark's status store afterwards. Spans live in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import gc
import json
import statistics
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    trace_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store. ``enabled=False`` keeps only what the
    untraced run needs (nothing) so end-to-end timings carry no
    recording cost."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.record_s = 0.0  # time spent collecting stage metrics and counters

    def add(self, name, start, end, parent, trace_id, **attrs) -> Span:
        span = Span(name, start, end, parent, trace_id, attrs)
        if self.enabled:
            self.spans.append(span)
        return span

    def self_times(self) -> dict[str, float]:
        """Sum over spans of each name of (duration minus the part of
        the interval its children cover)."""
        by_parent: dict[tuple[str, str], list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                by_parent.setdefault((s.trace_id, s.parent), []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(c.start, c.end) for c in by_parent.get((s.trace_id, s.name), [])],
                s.start, s.end,
            )
            out[s.name] = out.get(s.name, 0.0) + max(0.0, s.dur - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _union_length(intervals, lo, hi) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


# --- Spark status store ------------------------------------------------


class JobCursor:
    """Attributes Spark jobs to the harness step that ran them.

    The catalog loop is closed (one entry at a time), so every job whose
    id lies between two cursor reads belongs to the step in between —
    including jobs the program submits from its own threads, which a
    job group would miss."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.last = self._max_job()

    def _max_job(self) -> int:
        ids = list(self.sc.statusTracker().getJobIdsForGroup(None))
        return max(ids) if ids else -1

    def take(self) -> list[int]:
        cur = max(self._max_job(), self.last)
        jobs = list(range(self.last + 1, cur + 1))
        self.last = cur
        return jobs

    def stage_metrics(self, jobs: list[int]) -> dict[str, float]:
        """Task time, JVM CPU, GC, shuffle write and spill of every
        stage the jobs ran, from ``statusStore().lastStageAttempt``
        (works with the UI off). Skipped stages have no attempt."""
        m = dict(task_s=0.0, jvm_cpu_s=0.0, gc_s=0.0, shuffle_write_mb=0.0,
                 spill_mb=0.0, stages=0, jobs_unretained=0)
        seen: set[int] = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is None:
                m["jobs_unretained"] += 1
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # skipped or evicted stage: no attempt data
                    continue
                m["stages"] += 1
                m["task_s"] += sd.executorRunTime() / 1e3
                m["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
                m["gc_s"] += sd.jvmGcTime() / 1e3
                m["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                m["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
        return m


def live_counts(spark) -> tuple[int, int]:
    """(persisted or checkpointed RDDs, live PySpark broadcasts) held
    by the driver right now."""
    from pyspark.broadcast import Broadcast

    rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    bcasts = sum(1 for o in gc.get_objects() if isinstance(o, Broadcast))
    return rdds, bcasts


# --- statistics --------------------------------------------------------


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return float(statistics.median(values))
