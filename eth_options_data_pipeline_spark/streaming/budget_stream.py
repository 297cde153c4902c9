"""Streaming token-budget selection: maintain "the best docs within a
token budget" incrementally over an unbounded document stream — the
streaming twin of operators/selection.select_to_budget (cx04's
selection stage), completing the r09 plan that sx09 covered for
containment.

Why serve-from-state (not eager emission): budget selection is a
GLOBAL statistic — a high-quality late arrival evicts the lowest
selected document, so any eagerly emitted selection can be
retroactively wrong (the sx09 rationale). The stream's job is to keep
the SELECTION STATE cheap to serve, not to emit rows.

Incremental state, two tables under one root, both landed as
``batch_id`` partitions (streaming/landing.py — a replayed micro-batch
lands exactly its own partition):

  * ``docs``  — the doc index (doc_id, quality, toks, bucket), landed
    AFTER an anti-join against already-indexed doc_ids so a
    cross-batch re-delivery never double-counts (the sx09 move);
  * ``buckets`` — per-QUALITY-BUCKET token partials (bucket,
    sum_toks) for just the batch's new docs: associative, so serving
    merges them with one tiny aggregate instead of re-summing the doc
    index.

Serving (``selected()``): merge the bucket partials (O(batches x
buckets) rows), window over the <=|buckets| merged rows for exclusive
prefix offsets (bucket ascending = quality descending), broadcast-join
offsets to the doc index, and run the per-bucket running sum — a
window PARTITIONED BY bucket, never global. Identical decomposition
to select_to_budget's distributed prefix sum, with buckets as the
statically-known ranges: at 100 TB the only global structure is the
bucket-totals table.

Buckets order by quality descending: ``bucket = -(quality // W)`` so
ascending bucket order IS descending quality order, and the
(quality desc, doc_id asc) tie-break inside a bucket completes the
same total order the batch operator uses — the served set is
bit-identical to a from-scratch select_to_budget over every distinct
row ever streamed, which is what sx11's oracle checks.

No counterpart in the reference (row-oriented options pipeline,
main.py:43-351); extends the training-data curation family's
selection stage (operators/selection.py) to streams.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.streaming.landing import (
    land, landed, run_available_now,
)


class StreamingBudgetSelection:
    """foreachBatch driver maintaining budget-selection state."""

    def __init__(self, state_dir: str, budget: int) -> None:
        self.state_dir = state_dir
        self.docs_dir = os.path.join(state_dir, "docs")
        self.buckets_dir = os.path.join(state_dir, "buckets")
        self.budget = budget
        self.quality_col = "quality"
        self.token_col = "toks"
        self.id_col = "doc_id"
        self.bucket_width = 64

    def _bucket(self):
        return -F.floor(F.col(self.quality_col) / self.bucket_width) \
                .cast("long")

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = batch_df.dropDuplicates([self.id_col])
        # Exclude THIS batch's own partition from the seen set: a replay
        # that crashed between the docs write and the buckets write must
        # regenerate `new` (and hence the buckets partial) identically,
        # not anti-join its own half-landed docs away — otherwise the
        # batch's tokens vanish from the bucket totals and selected()
        # over-selects past the budget.
        seen = landed(spark, self.docs_dir, exclude_batch=batch_id)
        if seen is not None:
            new = new.join(seen.select(self.id_col), self.id_col, "left_anti")
        new = new.withColumn("bucket", self._bucket())
        land(new, self.docs_dir, batch_id)
        land(new.groupBy("bucket")
             .agg(F.sum(self.token_col).cast("long").alias("sum_toks")),
             self.buckets_dir, batch_id)

    def start(self, stream: DataFrame, checkpoint_dir: str):
        return run_available_now(stream, self._process_batch, checkpoint_dir)

    def selected(self, spark: SparkSession) -> DataFrame:
        """The budget-selected set from the maintained state: every
        doc whose cumulative tokens (quality desc, id asc order) stay
        within the budget, with its running total."""
        docs = landed(spark, self.docs_dir)
        if docs is None:
            raise FileNotFoundError(f"no state at {self.docs_dir}")
        docs = docs.drop("batch_id")
        totals = (spark.read.parquet(self.buckets_dir).drop("batch_id")
                  .groupBy("bucket")
                  .agg(F.sum("sum_toks").cast("long").alias("_total")))
        off_w = (Window.orderBy("bucket")
                 .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        offsets = totals.withColumn(
            "_offset", F.sum("_total").over(off_w) - F.col("_total")
        ).drop("_total")
        in_w = (Window.partitionBy("bucket")
                .orderBy(F.col(self.quality_col).desc(),
                         F.col(self.id_col).asc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return (docs.join(F.broadcast(offsets), "bucket")
                .withColumn("_cum_local",
                            F.sum(F.col(self.token_col)).over(in_w))
                .withColumn("cum_tokens",
                            (F.col("_cum_local") + F.col("_offset"))
                            .cast("long"))
                .where(F.col("cum_tokens") <= self.budget)
                .drop("bucket", "_cum_local", "_offset"))
