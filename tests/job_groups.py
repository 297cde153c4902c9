"""Count the Spark jobs a block of driver code submits."""

from __future__ import annotations

import contextlib
import itertools

_GROUPS = itertools.count()


@contextlib.contextmanager
def job_group(spark, label: str):
    """Run the block under a fresh Spark job group and yield a list that
    holds, once the block has exited, the ids of the jobs it submitted.

    Each use gets its own group id (``label`` plus a sequence number),
    so a repeated label never counts an earlier block's jobs.
    """
    sc = spark.sparkContext
    group = f"{label}-{next(_GROUPS)}"
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))
