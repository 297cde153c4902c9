"""Streaming heavy hitters: continuously-maintained top-k frequent
items over an unbounded stream, with the batch operator's
summary-merge guarantee instead of unbounded per-item state.

A naive streaming ``groupBy(col).count()`` keeps state for every
distinct item ever seen — at token scale that state IS the
vocabulary and never stops growing. This operator keeps state only
for TRACKED items: per micro-batch, the batch's per-partition
top-``capacity`` candidates (operators/heavy_hitters.py — every item
with in-batch-partition frequency above n_p/(capacity+1) surfaces)
join the tracked set, and each batch appends exact in-batch counts
for tracked items only.

Accuracy bound (the Misra-Gries merge argument): an item's missed
occurrences are confined to batches before it first became tracked,
in each of which it stayed under every partition bar — so the
reported count under-estimates by at most N/(capacity+1) over N
total observations, and any item with true frequency above that is
guaranteed present. Items tracked from the first batch onward (in
particular: everything, when capacity exceeds per-partition distinct
counts) are EXACT — the equivalence the tests pin against the batch
operator.

State layout: per-batch count deltas land as the batch's own
``batch_id`` partition (streaming/landing.py), so a replayed
micro-batch (checkpoint recovery) overwrites exactly its own
partition and the state converges instead of double-counting; the
prior-state read excludes the current batch's partition for the same
reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..operators.heavy_hitters import partition_candidates
from .landing import land, landed_or_empty, run_available_now


def tracked_batch_counts(batch_df: DataFrame, col: str, capacity: int,
                         prior_tracked: DataFrame) -> DataFrame:
    """One micro-batch's state delta: exact in-batch counts for the
    union of previously-tracked items and this batch's per-partition
    top-``capacity`` candidates. Pure (no sink) so the streaming
    foreachBatch and the batch correctness face run the identical
    logic."""
    cands = partition_candidates(batch_df.select(col), col, capacity)
    tracked = prior_tracked.select(col).unionByName(cands).distinct()
    return (
        batch_df.select(col)
        .join(F.broadcast(tracked), col, "left_semi")
        .groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
    )


class StreamingHeavyHitters:
    def __init__(self, state_dir: str, col: str,
                 capacity: int = 1000) -> None:
        self.state_dir = state_dir
        self.col = col
        self.capacity = capacity

    def _state_schema(self, batch_df: DataFrame) -> StructType:
        item_field = batch_df.select(self.col).schema.fields[0]
        return StructType([item_field,
                           StructField("cnt", LongType(), False)])

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        schema = self._state_schema(batch_df)
        prior = landed_or_empty(spark, self.state_dir, schema, batch_id)
        counts = tracked_batch_counts(
            batch_df, self.col, self.capacity, prior)
        land(counts, self.state_dir, batch_id)
        spark.catalog.refreshByPath(self.state_dir)

    def top_k(self, spark: SparkSession, k: int) -> DataFrame:
        """Current top-k: (col, cnt) by summed per-batch deltas."""
        state = spark.read.parquet(self.state_dir)
        return (
            state.groupBy(self.col).agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col(self.col))
            .limit(k)
        )

    def start(self, stream: DataFrame, checkpoint_dir: str):
        return run_available_now(stream, self._process_batch, checkpoint_dir)
