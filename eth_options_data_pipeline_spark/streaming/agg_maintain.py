"""Streaming materialized-view maintenance: keep a grouped aggregate
fresh over an unbounded stream by landing each micro-batch's ALGEBRAIC
PARTIAL STATE (operators/incremental_agg.py) instead of reaggregating
history — the streaming twin of the dx53 invariant
merge(partial(B1), ..., partial(Bn)) == aggregate(B1 ∪ ... ∪ Bn).

Design:

  * per micro-batch: one map-side-combined groupBy over JUST the batch
    produces (key, cnt, sum, min, max) in exact integer cents;
  * landing: each batch lands as its own ``batch_id`` partition of the
    state table (streaming/landing.py), so a replayed micro-batch
    (checkpoint recovery) lands idempotently;
  * serving: ``current()`` reads the partial-state partitions, merges
    (sum/sum/min/max — associative, so partition read order is
    irrelevant) and finalizes. Merge cost is O(batches × keys) state
    rows, never raw history. A periodic compaction (merge old
    partitions into one base partition) bounds the factor at any
    stream age; at 100 TB the state table is megabytes.

Exactness: because the partials are exact integers, the served
aggregate is bit-identical to a from-scratch recompute over every row
ever streamed — which is precisely what the sx07 face's oracle
checks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.incremental_agg import (
    finalize, merge_states, partial_state,
)
from eth_options_data_pipeline_spark.streaming.landing import (
    land, landed, run_available_now,
)


class StreamingAggMaintenance:
    """foreachBatch driver maintaining a partial-state table."""

    def __init__(self, state_dir: str, keys: list[str],
                 value_col: str) -> None:
        self.state_dir = state_dir
        self.keys = keys
        self.value_col = value_col

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # A restarted stream may land a batch BEFORE anything reads the
        # state: finish any torn compaction swap first, or this write
        # would recreate state_dir holding only the new batch and make
        # recovery mistake the _old/_compacted sibling (the last
        # complete pre-crash copy) for a deletable tombstone — silently
        # losing all history.
        self._recover_torn_compaction()
        land(partial_state(batch_df, self.keys, self.value_col),
             self.state_dir, batch_id)

    def start(self, stream: DataFrame, checkpoint_dir: str):
        return run_available_now(stream, self._process_batch, checkpoint_dir)

    def _recover_torn_compaction(self) -> None:
        """Finish a compaction swap torn by a crash.  The swap is three
        steps — rename(state → state_old), rename(staged → state),
        rmtree(state_old) — each either atomic (rename) or harmlessly
        re-runnable (rmtree of a tombstone), so recovery only has to
        look at which directories exist:

          * state missing, staged present  → crash between the two
            renames: install the fully-written staged tree;
          * state missing, only _old left  → staged was lost before the
            first rename could have happened (defensive; the write-
            before-rename ordering makes this unreachable): restore
            the _old tree, which is still the complete pre-compaction
            state;
          * state present AND _old present → crash during/before the
            final tombstone delete: state is complete, _old is a
            (possibly partially-deleted) tombstone — remove it.

        The live tree is never deleted in place (no rmtree on
        state_dir), so a partially-deleted live tree cannot occur."""
        import shutil
        staged = self.state_dir + "_compacted"
        old = self.state_dir + "_old"
        if not os.path.isdir(self.state_dir):
            if os.path.isdir(staged):
                # os.rename, NOT shutil.move: move silently degrades to
                # a non-atomic copytree across filesystems, and a crash
                # mid-copy would leave a partial state_dir that this
                # very routine then treats as complete. rename fails
                # loudly with EXDEV instead — siblings are always
                # created next to state_dir, so same-fs is the invariant.
                os.rename(staged, self.state_dir)
            elif os.path.isdir(old):
                os.rename(old, self.state_dir)
        if os.path.isdir(self.state_dir) and os.path.isdir(old):
            shutil.rmtree(old)

    def current(self, spark: SparkSession) -> DataFrame:
        """The maintained aggregate, finalized from all landed
        partial-state partitions."""
        self._recover_torn_compaction()
        state = landed(spark, self.state_dir)
        if state is None:
            raise FileNotFoundError(f"no state at {self.state_dir}")
        return finalize(merge_states(self.keys, state.drop("batch_id")),
                        self.keys)

    def compact(self, spark: SparkSession, into_batch_id: int = -1) -> None:
        """Fold landed partitions into one base partition so the
        per-read merge factor stays O(1) on an old stream — EXCEPT the
        highest batch_id, which keeps its own partition. Structured
        Streaming replays at most the newest not-yet-committed
        micro-batch after a crash, and that replay dynamic-overwrites
        its own batch_id partition; folding it into the base would
        leave its old contribution inside the base AND land the replay
        beside it, double-counting. Earlier batch_ids are committed
        and can never replay, so folding them is safe.

        Run between triggers (a maintenance window, like any
        table-format OPTIMIZE); rerunnable, and a crash at ANY point
        leaves a recoverable state: the replacement is fully written
        before the live tree is touched, the live tree is only ever
        RENAMED (atomic), never deleted in place, and both current()
        and a rerun finish a torn swap via _recover_torn_compaction."""
        import shutil
        self._recover_torn_compaction()
        staged = self.state_dir + "_compacted"
        if os.path.isdir(staged):          # torn BEFORE the swap began:
            shutil.rmtree(staged)          # state_dir is complete — restage
        state = spark.read.parquet(self.state_dir)
        max_bid = state.agg(F.max("batch_id")).first()[0]
        folded = merge_states(
            self.keys,
            state.where(F.col("batch_id") != max_bid).drop("batch_id"),
        ).withColumn("batch_id", F.lit(into_batch_id))
        keep = state.where(F.col("batch_id") == max_bid)
        folded.unionByName(keep).write.mode("overwrite").partitionBy(
            "batch_id").parquet(staged)
        # Atomic-ish three-step swap (see _recover_torn_compaction for
        # the crash matrix): the complete staged tree exists before the
        # live tree is renamed aside, so every intermediate state keeps
        # at least one complete copy on disk.
        old = self.state_dir + "_old"
        os.rename(self.state_dir, old)
        os.rename(staged, self.state_dir)   # same-fs atomic (EXDEV if not)
        shutil.rmtree(old)
