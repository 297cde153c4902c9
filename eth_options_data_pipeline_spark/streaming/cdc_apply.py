"""Streaming CDC apply: keep a partitioned parquet table current by
MERGE-ing each micro-batch of change records as it arrives — the
stream-to-table upsert loop (Delta/Iceberg "apply changes" pattern)
on plain parquet, composing two already-proven pieces:

  * per batch: ``operators/merge_upsert.merge_upsert`` — partition-
    scoped copy-on-write (only partitions PRESENT in the batch are
    rewritten; the update side is broadcast-anti-joined, never
    collected);
  * recovery: a replayed micro-batch (checkpoint restart) re-applies
    the same merge, which converges — updates replace rows with the
    same values, inserts anti-join to nothing (chaos-tested in
    test_merge_upsert.py; the streaming twin is tested in
    test_cdc_apply_stream via the sx08 face's oracle). The MERGE is
    its own idempotent write, so of streaming/landing.py's protocol
    only the availableNow run applies here.

At 100 TB this is the ingestion tail of a curated corpus: upstream
fixes and late corrections arrive as a change stream and land in
place, costing one partition rewrite per touched partition per
trigger instead of a nightly full rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from eth_options_data_pipeline_spark.operators.merge_upsert import merge_upsert
from eth_options_data_pipeline_spark.streaming.landing import run_available_now


class StreamingCdcApply:
    """foreachBatch driver applying change batches via MERGE."""

    def __init__(self, table_path: str, keys: tuple[str, ...],
                 partition_col: str) -> None:
        self.table_path = table_path
        self.keys = keys
        self.partition_col = partition_col

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_upsert(batch_df.sparkSession, self.table_path, batch_df,
                     self.keys, self.partition_col)

    def start(self, changes: DataFrame, checkpoint_dir: str):
        return run_available_now(changes, self._process_batch, checkpoint_dir)
