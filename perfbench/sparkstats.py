"""Spark's own accounting, read from outside the engine.

Before each call into the engine the benchmark sets a job group named
``<op id>:<phase>`` (phase ``plan_build`` for the query-function call,
``exec`` for the action). Threads the engine starts with
``InheritableThread`` inherit it. Afterwards the group's jobs, stages,
tasks, shuffle bytes and GC time are read back through
``statusTracker()`` and the application status store, both of which
work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

from collections import Counter


class SparkStats:
    """Per-phase Spark counters summed over the groups read back."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.by_phase: dict[str, Counter] = {}

    def group(self, op: str, phase: str) -> str:
        gid = f"{op}:{phase}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def collect(self, gid: str) -> Counter:
        """Read one group's counters back and add them to its phase."""
        c: Counter = Counter()
        for job in self.tracker.getJobIdsForGroup(gid):
            info = self.tracker.getJobInfo(job)
            if info is None:
                continue
            c["jobs"] += 1
            for stage in info.stageIds:
                try:
                    data = self.store.lastStageAttempt(stage)
                except Exception:  # noqa: BLE001 — skipped stage, never ran
                    continue
                c["stages"] += 1
                c["tasks"] += data.numTasks()
                c["shuffle_read_bytes"] += data.shuffleReadBytes()
                c["shuffle_write_bytes"] += data.shuffleWriteBytes()
                c["gc_ms"] += data.jvmGcTime()
        phase = gid.rsplit(":", 1)[1]
        self.by_phase.setdefault(phase, Counter()).update(c)
        return c

    def total(self) -> Counter:
        out: Counter = Counter()
        for c in self.by_phase.values():
            out.update(c)
        return out

    def cached_storage_mb(self) -> float:
        """Memory plus disk held by persisted RDDs right now."""
        total = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            total += info.memSize() + info.diskSize()
        return total / 2**20
