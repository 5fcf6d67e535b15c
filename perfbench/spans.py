"""Per-layer spans measured from outside the engine.

Each span runs its calls in a Spark job group of its own.  When the span
ends, the benchmark waits for the listener bus to drain and reads every
stage of the group's jobs from the application status store
(``statusStore().lastStageAttempt``), which works with the UI disabled.
Skipped stages are left out.  A job or stage id that does not resolve is
counted in ``failures``: a trace that lost data must never read as zero
work.

Spans nest.  A child span's jobs run in the child's group; when the child
ends, its stages are added to its parent, so a parent's totals cover the
whole call.  ``wall_s`` is inclusive and ``idle_s`` is the part of the
wall time during which no stage of the span (children included) ran.
"""

from __future__ import annotations

import contextlib
import time

from py4j.protocol import Py4JError

FIELDS = ("wall_s", "idle_s", "tasks", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_write_records")
# fields taken from the first timed iteration (they repeat exactly for a
# seed); every other field is the median over the timed iterations
COUNT_FIELDS = ("tasks", "shuffle_write_mb", "shuffle_write_records", "jobs", "stages", "files")


def _busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    busy, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            busy += e - s
            end = e
    return busy


class Span:
    def __init__(self, name: str, group: str, iteration: int):
        self.name = name
        self.group = group
        self.iteration = iteration
        self._t0 = time.time()
        self.wall_s = 0.0
        self.jobs = 0
        self.stages: dict[int, dict] = {}
        self.extra: dict[str, float] = {}

    def totals(self) -> dict[str, float]:
        st = self.stages.values()
        t0 = self._t0
        intervals = [(s["start"], s["end"]) for s in st]
        return {
            "wall_s": self.wall_s,
            "idle_s": self.wall_s - _busy_seconds(intervals, t0, t0 + self.wall_s),
            "tasks": sum(s["tasks"] for s in st),
            "cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
            "gc_s": sum(s["gc_ms"] for s in st) / 1e3,
            "shuffle_write_mb": sum(s["sw_bytes"] for s in st) / 2**20,
            "shuffle_write_records": sum(s["sw_records"] for s in st),
            "jobs": self.jobs,
            "stages": len(self.stages),
            **self.extra,
        }


class Tracer:
    """Collects spans when enabled; a no-op context otherwise."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.iteration = -1  # -1 = set-up / warm-up; 0.. = timed iterations
        self.spans: list[Span] = []
        self.failures = 0
        self.collect_s = 0.0
        self._stack: list[Span] = []
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        self._seq += 1
        sp = Span(name, f"perfbench-{self._seq}", self.iteration)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.wall_s = time.time() - sp._t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc._jsc.clearJobGroup()
            self._collect(sp)
            if parent is not None:
                parent.jobs += sp.jobs
                parent.stages.update(sp.stages)
            self.spans.append(sp)

    def _collect(self, sp: Span) -> None:
        t = time.time()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(sp.group):
            info = tracker.getJobInfo(jid)
            if info is None:
                self.failures += 1
                continue
            sp.jobs += 1
            for sid in info.stageIds:
                if sid in sp.stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JError:
                    self.failures += 1
                    continue
                status = sd.status().toString()
                if status == "SKIPPED":
                    continue
                if status != "COMPLETE" or sd.submissionTime().isEmpty() or sd.completionTime().isEmpty():
                    self.failures += 1
                    continue
                sp.stages[sid] = {
                    "tasks": sd.numTasks(),
                    "cpu_ns": sd.executorCpuTime(),
                    "gc_ms": sd.jvmGcTime(),
                    "sw_bytes": sd.shuffleWriteBytes(),
                    "sw_records": sd.shuffleWriteRecords(),
                    "start": sd.submissionTime().get().getTime() / 1e3,
                    "end": sd.completionTime().get().getTime() / 1e3,
                }
        self.collect_s += time.time() - t

    def per_iteration(self, name: str) -> list[dict[str, float]]:
        """Sum of the named spans' totals per timed iteration, in order."""
        by_it: dict[int, dict[str, float]] = {}
        for sp in self.spans:
            if sp.name != name or sp.iteration < 0:
                continue
            acc = by_it.setdefault(sp.iteration, {})
            for k, v in sp.totals().items():
                acc[k] = acc.get(k, 0) + v
        return [by_it[i] for i in sorted(by_it)]
