"""Per-invocation scratch persistence with previous-generation release.

Several query faces persist bounded intermediates for the duration of
ONE invocation — a lazily localCheckpointed shingle table that three
branches consume, a cached edge list feeding an iterative loop. The
handles are correct per invocation, but nothing ever released them:
each bench rep / sweep compile re-created fresh RDDs while the previous
invocation's blocks stayed pinned in the block manager (MEMORY_AND_DISK
blocks that spill are NOT reclaimed by memory pressure, and PySpark's
ContextCleaner only frees them after both a Python GC of the DataFrame
and a periodic JVM GC — ~30 min apart by default). Measured r16: every
dx10 invocation leaked 2 persisted RDDs; a 3-rep 125-face bench session
accumulates hundreds of dead blocks inside the fixed 8 g driver
(guide §5: "unpersist when done").

Usage at face entry:

    rotate(\"dx10\")                       # free the PREVIOUS invocation
    csh = cache(docs.select(...), \"dx10\")  # register this invocation's

Release happens at the NEXT entry (not at exit) so the handles stay
alive while the caller's returned plan is still consumable — the same
contract q29's cohort caches and pagerank's checkpoint rotation already
use.

SAFETY RULE (learned the hard way in r16: a suite test re-invoked a
face between the session-wide compile pass and that face's oracle
collect, and the rotation broke the stale DataFrame): only CACHES may
be registered for cross-invocation rotation — an unpersisted cache
recomputes, but an unpersisted localCheckpoint is gone for good (its
lineage was truncated), so rotating a checkpoint any still-held
DataFrame reads poisons that DataFrame permanently. Checkpoints that
are consumed ONLY during a face's construction should instead be
released explicitly before the face returns (``unpersist_rdd_id``);
checkpoints a RETURNED plan reads must not be registered at all (they
are freed by the ContextCleaner once the consumer is garbage
collected — the bounded pre-r16 behavior).

A localCheckpointed DataFrame's persisted RDD is NOT reachable via
``DataFrame.unpersist`` (``df.rdd`` is a derived wrapper), so
checkpoint release goes by RDD id through ``getPersistentRDDs`` — the
rotation trick pagerank.py documents.
"""

from __future__ import annotations

import threading

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

_GENERATIONS: dict[str, list[DataFrame]] = {}
_LOCK = threading.Lock()


def ckpt_rdd_id(df: DataFrame) -> int:
    """RDD id a (possibly lazy) localCheckpoint persists under."""
    return int(df._jdf.queryExecution().analyzed().rdd().id())


def unpersist_rdd_id(spark, rid: int) -> None:
    """Unpersist the RDD persisted under ``rid``, if still registered."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for e in jmap.entrySet().toArray():
        if int(e.getKey()) == rid:
            e.getValue().unpersist(False)
            break


def rotate(key: str) -> None:
    """Release every cache the PREVIOUS invocation registered under
    ``key``. Call once at face entry, before registering new scratch.
    Unpersisting a cache a concurrent invocation still reads is safe:
    it recomputes (see module docstring)."""
    with _LOCK:
        prev = _GENERATIONS.pop(key, None)
    for df in prev or ():
        try:
            df.unpersist(blocking=False)
        except Py4JJavaError:
            # the handle's SparkContext is stopped and none replaced it:
            # its blocks went with it (an already-freed cache raises
            # nothing)
            pass


def cache(df: DataFrame, key: str) -> DataFrame:
    """``.cache()`` registered as ``key`` scratch. The ONLY handle
    kind safe for cross-invocation rotation (see module docstring)."""
    out = df.cache()
    with _LOCK:
        _GENERATIONS.setdefault(key, []).append(out)
    return out


def scoped_cache(df: DataFrame, key: str) -> DataFrame:
    """rotate + cache in one call — for the common single-site case."""
    rotate(key)
    return cache(df, key)


def release_ckpt(df: DataFrame) -> None:
    """Immediately free a (materialized) localCheckpoint that no
    still-reachable plan reads — for construction-only checkpoints a
    face can release before returning."""
    unpersist_rdd_id(df.sparkSession, ckpt_rdd_id(df))
