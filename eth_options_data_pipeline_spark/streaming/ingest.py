"""Streaming corpus ingestion: the end-to-end training-data intake
loop as one Structured Streaming job.

Per micro-batch of raw documents:

  1. quality gate — cheap codegen predicates (length floors, dup-line
     ceiling) drop junk before anything expensive touches it;
  2. incremental near-dup screen — the batch is sketched and checked
     against the persisted band index of everything accepted so far
     (operators/incremental_dedup.py; history is never re-sketched);
  3. idempotent landing — accepted docs and their index delta each
     land as the batch's own ``batch_id`` partition
     (streaming/landing.py), so a replayed micro-batch (checkpoint
     recovery) overwrites exactly its own output instead of
     double-appending.

This is the 100 TB ingest shape: per-batch work scales with the batch
(sketch + bucket join against the index), the accepted corpus and the
index are append-only partitioned tables, and a crash at any point
replays at most one micro-batch into its own partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from eth_options_data_pipeline_spark.operators.incremental_dedup import (
    accept_batch,
)
from eth_options_data_pipeline_spark.operators.repetition import repetition_stats
from eth_options_data_pipeline_spark.streaming.landing import (
    land, landed_or_empty, run_available_now,
)

DOC_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
])
INDEX_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("band_key", StringType()),
])

MIN_WORDS = 5
MAX_DUP_SEG_FRAC = 0.5


def quality_gate(docs: DataFrame) -> DataFrame:
    """Codegen-only intake filter: minimum length + repetition ceiling
    (a tight subset of dx02's battery — the gate must be cheaper than
    what it protects)."""
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    rep = repetition_stats(docs).select("doc_id", "dup_seg_frac")
    return (
        docs.where((F.length(F.trim(F.col("text"))) > 0) & (n_words >= MIN_WORDS))
        .join(rep, "doc_id")
        .where(F.col("dup_seg_frac") <= MAX_DUP_SEG_FRAC)
        .drop("dup_seg_frac")
    )


class StreamingCorpusIngest:
    """foreachBatch driver around the gate -> screen -> land loop."""

    def __init__(self, accepted_dir: str, index_dir: str) -> None:
        self.accepted_dir = accepted_dir
        self.index_dir = index_dir

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = quality_gate(batch_df.select("doc_id", "text"))
        # prior state EXCLUDING this batch's own partition: a replay
        # must not screen against its previous attempt's output, or
        # every doc self-flags as a duplicate and the replay lands empty
        history = landed_or_empty(spark, self.accepted_dir, DOC_SCHEMA,
                                  batch_id)
        index = landed_or_empty(spark, self.index_dir, INDEX_SCHEMA, batch_id)
        accepted, delta = accept_batch(docs, history, index)
        land(accepted, self.accepted_dir, batch_id)
        land(delta, self.index_dir, batch_id)

    def start(self, docs_stream: DataFrame, checkpoint_dir: str):
        return run_available_now(docs_stream, self._process_batch,
                                 checkpoint_dir)
