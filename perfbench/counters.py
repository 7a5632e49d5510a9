"""Spark counters per job group, read from the application status store.

Each benchmark op (and, in a traced run, each layer span) runs under its
own job group.  Right after it ends, :meth:`Counters.read` collects the
group's jobs and stages: the status store keeps only the last
``spark.ui.retainedJobs`` jobs, so counters are read per group before the
next op, never at the end of the run.  Skipped stages never ran and count
as zero.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Tuple


@dataclass
class GroupStats:
    """Counters of one job group."""

    jobs: int = 0
    stages: int = 0          # stages that ran (skipped ones excluded)
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # [start, end] wall-clock seconds (epoch) of every job
    intervals: List[Tuple[float, float]] = field(default_factory=list)

    def covered_s(self, start: float = None, end: float = None) -> float:
        """Length of the union of the job intervals, clipped to
        ``[start, end]`` when given."""
        total, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(self.intervals):
            if start is not None:
                lo, hi = max(lo, start), min(hi, end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total

    def overlap(self) -> float:
        """Sum of job durations over the union of job intervals: 1.0 when
        jobs ran one after another, above 1 when they overlapped."""
        union = self.covered_s()
        if union <= 0:
            return 0.0
        return sum(hi - lo for lo, hi in self.intervals) / union


class Counters:
    """Reads per-job-group counters of one SparkContext."""

    def __init__(self, sc):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._ids = itertools.count()

    @contextmanager
    def group(self, label: str):
        """Run the block under a fresh job group; yields its id.  The
        previous group of the calling thread is restored afterwards."""
        gid = f"perfbench-{next(self._ids)}-{label}"
        keys = ("spark.jobGroup.id", "spark.job.description")
        prev = [self._sc.getLocalProperty(k) for k in keys]
        self._sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            for k, v in zip(keys, prev):
                self._sc.setLocalProperty(k, v)

    def read(self, gid: str) -> GroupStats:
        out = GroupStats()
        tracker = self._sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(gid):
            job = self._store.job(jid)
            out.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.intervals.append((sub.get().getTime() / 1000.0,
                                      done.get().getTime() / 1000.0))
            for sid in tracker.getJobInfo(jid).stageIds:
                self._add_stage(out, sid)
        return out

    def _add_stage(self, out: GroupStats, sid: int) -> None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — never-run (skipped) stage
            return
        if st.status().toString() == "SKIPPED":
            return
        out.stages += 1
        out.tasks += st.numCompleteTasks()
        out.executor_run_s += st.executorRunTime() / 1e3
        out.executor_cpu_s += st.executorCpuTime() / 1e9
        out.input_records += st.inputRecords()
        out.shuffle_write_bytes += st.shuffleWriteBytes()
        out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()

    def retained_blocks(self) -> int:
        return retained_blocks(self._sc)


def retained_blocks(sc) -> int:
    """RDD blocks currently held in storage (cached or checkpointed
    partitions of every RDD)."""
    return sum(int(info.numCachedPartitions())
               for info in sc._jsc.sc().getRDDStorageInfo())


def merge(stats: List[GroupStats]) -> GroupStats:
    out = GroupStats()
    for s in stats:
        for name in ("jobs", "stages", "tasks", "executor_run_s",
                     "executor_cpu_s", "input_records",
                     "shuffle_write_bytes", "spill_bytes"):
            setattr(out, name, getattr(out, name) + getattr(s, name))
        out.intervals.extend(s.intervals)
    return out


def as_dict(s: GroupStats) -> Dict[str, float]:
    return {"jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
            "executor_run_s": s.executor_run_s,
            "executor_cpu_s": s.executor_cpu_s,
            "input_records": s.input_records,
            "shuffle_write_bytes": s.shuffle_write_bytes,
            "spill_bytes": s.spill_bytes}
