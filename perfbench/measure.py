"""Statistics, memory and Spark counters shared by the workloads."""

from __future__ import annotations

import os
import statistics
import time

TAIL_BEYOND = 10  # samples a reported tail percentile must have beyond it


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, int] | None:
    """The highest percentile with at least ``beyond`` samples above it.

    With n samples that is the (beyond+1)-th largest one, at percentile
    floor(100 * (n - beyond) / n). Returns (value, percentile), or None
    when fewer than beyond + 1 samples exist."""
    n = len(xs)
    if n <= beyond:
        return None
    return sorted(xs)[n - beyond - 1], 100 * (n - beyond) // n


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> dict:
    """Peak RSS of this Python driver and of its JVM child, and their sum."""
    py, jvm = vm_hwm_mb(os.getpid()), vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
    return {"python": py, "jvm": jvm, "total": py + jvm}


class JobCounter:
    """Jobs, stages and tasks of one call, read from a job group set
    around it. The group is unique per call and read as soon as the
    call returns, so counts never depend on what the status store has
    pruned since."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def run(self, fn, *args, **kwargs):
        """Call ``fn``; return (result, seconds, {"jobs", "stages", "tasks"})."""
        self.n += 1
        group = f"perfbench-{os.getpid()}-{self.n}"
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            secs = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return out, secs, self.count(group)

    def count(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is not None:  # skipped stages were never submitted
                    stages += 1
                    tasks += si.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def table_files_bytes(path: str) -> tuple[int, int]:
    """Data files (names not starting with '.' or '_') under a table
    directory, and their total bytes."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for name in names:
            if not name.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size
