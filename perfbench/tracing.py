"""Spans, engine counters and host counters recorded from outside the
program.

The benchmark wraps calls into each layer's public functions; nothing
inside ``nypd_arrest_etl_spark`` is instrumented. Spans stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, op)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        rec = {
            "name": name,
            "op": op,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()


class JobCensus:
    """Exact Spark job/stage/task counts for the actions run under one
    job group, read from the SparkContext's status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    def new_group(self) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def counts(self, group: str) -> dict[str, int]:
        # job and stage events reach the status store through the
        # asynchronous listener bus; drain it so the counts are complete
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(self.tracker.getJobIdsForGroup(group))
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                stage = self.tracker.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def jvm_stats(spark) -> dict[str, float]:
    """Cumulative GC time/count and summed heap-pool peak usage of the
    driver JVM, read from java.lang.management over the py4j gateway."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_s = 0.0
    gc_n = 0
    for bean in mf.getGarbageCollectorMXBeans():
        gc_s += max(0, bean.getCollectionTime()) / 1000.0
        gc_n += max(0, bean.getCollectionCount())
    heap_peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP":
            heap_peak += pool.getPeakUsage().getUsed()
    return {"gc_s": gc_s, "gc_count": gc_n, "heap_peak_mb": heap_peak / 2**20}


def reset_heap_peaks(spark) -> None:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP":
            pool.resetPeakUsage()


def cpu_times() -> list[int]:
    """The machine's cumulative CPU time counters from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two cpu_times() readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0
