"""The exactly-once protocol every foreachBatch twin shares.

foreachBatch is at-least-once: a micro-batch that fails after its
writes but before the checkpoint commit is REPLAYED on restart with
the same batch_id. The reference's hand-scheduled stream
double-appends in that case (SURVEY §2.10). Every streaming driver
here makes its writes idempotent in one of two ways, both owned by
this module:

  * landings (``land``/``landed``): each batch writes a
    ``batch_id=K`` partition with dynamic partition overwrite, so a
    replay overwrites exactly its own partition. A batch that screens
    against prior state reads it with ``exclude_batch`` set to its own
    id, so a replay never screens against its previous attempt;
  * versioned state (``VersionedState``): each batch writes a fresh
    ``<prefix><batch_id>`` directory in one shot, and Spark's
    ``_SUCCESS`` marker is the commit point. A batch rebuilds from the
    latest committed version strictly below its own id, so a replay
    after the state write is deterministic.

``run_available_now`` is the one writeStream -> foreachBatch ->
checkpoint -> ``availableNow`` chain the drivers start.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def land(df: DataFrame, path: str, batch_id: int, *also_by: str) -> None:
    """Write ``df`` as the ``batch_id`` partition of ``path`` (further
    partitioned by ``also_by``), replacing only that batch's
    partitions."""
    (df.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id", *also_by)
     .parquet(path))


def landed(spark: SparkSession, path: str,
           exclude_batch: int | None = None,
           schema: StructType | None = None) -> DataFrame | None:
    """The rows landed under ``path`` so far, or None when it holds no
    data (missing, or only ``_SUCCESS`` after an empty batch).
    ``exclude_batch`` drops that batch's partition, a metadata filter
    since ``batch_id`` is a partition column. With ``schema`` the files
    are read with it and no inference job runs; a file whose column
    types disagree with it fails the query that reads it."""
    if not (os.path.isdir(path) and any(
            not n.startswith(("_", ".")) for n in os.listdir(path))):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if exclude_batch is not None:
        df = df.where(F.col("batch_id") != exclude_batch)
    return df


def run_available_now(stream: DataFrame, process, checkpoint_dir: str):
    """Start ``process(batch_df, batch_id)`` over everything ``stream``
    has available, checkpointed at ``checkpoint_dir``."""
    return (stream.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


class VersionedState:
    """Versioned state directories ``<root>/<prefix><N>``, one per
    batch, committed by ``_SUCCESS``. Pruning keeps the current batch's
    version plus one replay base."""

    KEPT = 2     # committed versions kept: current + replay base

    def __init__(self, root: str, prefix: str) -> None:
        self.root = root
        self.prefix = prefix

    def path(self, version: int) -> str:
        return os.path.join(self.root, f"{self.prefix}{version}")

    def _versions(self, committed_only: bool = True) -> list[int]:
        if not os.path.isdir(self.root):
            return []
        out = []
        for name in os.listdir(self.root):
            suffix = name[len(self.prefix):]
            if not (name.startswith(self.prefix) and suffix.isdigit()):
                continue
            if committed_only and not os.path.exists(
                    os.path.join(self.root, name, "_SUCCESS")):
                continue
            out.append(int(suffix))
        return sorted(out)

    def committed(self) -> list[int]:
        return self._versions()

    def read_before(self, spark: SparkSession,
                    batch_id: int) -> DataFrame | None:
        """Latest committed version STRICTLY below ``batch_id``: a
        replay of batch N must not read the state N itself wrote."""
        base = [v for v in self.committed() if v < batch_id]
        return spark.read.parquet(self.path(base[-1])) if base else None

    def read_latest(self, spark: SparkSession) -> DataFrame | None:
        versions = self.committed()
        return spark.read.parquet(self.path(versions[-1])) if versions else None

    def commit(self, df: DataFrame, batch_id: int) -> None:
        """Write ``batch_id``'s version, then prune."""
        df.write.mode("overwrite").parquet(self.path(batch_id))
        self.prune(batch_id)

    def prune(self, batch_id: int) -> None:
        """Drop every version below ``batch_id`` except the newest
        committed ones, uncommitted crash leftovers included."""
        keep = set(self.committed()[-self.KEPT:]) | {batch_id}
        for v in self._versions(committed_only=False):
            if v not in keep and v < batch_id:
                shutil.rmtree(self.path(v), ignore_errors=True)

    def reset_stale(self, checkpoint_dir: str) -> None:
        """Drop versions the coming run could mistake for its own.

        A fresh checkpoint restarts batch ids at 0, so a state_dir
        holding a prior run's versions would be read as this run's
        replay base (and served as its latest) once the ids catch up,
        and ``prune`` never removes versions above the current batch.
        Every version at or above the checkpoint's next batch id is
        either a prior run's leftover or an orphan from a batch that
        never reached its commit; a replayed batch rebuilds its version
        from the one before, so both are safe to delete."""
        commits = os.path.join(checkpoint_dir, "commits")
        ids = ([int(n) for n in os.listdir(commits) if n.isdigit()]
               if os.path.isdir(commits) else [])
        nxt = max(ids) + 1 if ids else 0
        for v in self._versions(committed_only=False):
            if v >= nxt:
                shutil.rmtree(self.path(v), ignore_errors=True)
