"""Streaming near-containment screening: maintain the df-capped
shingle inverted index (operators/containment.py) incrementally over
a document stream, then serve containment pairs from the persisted
index — the streaming twin of the dx58 batch face, with the batch
result as its exactness oracle.

Design (the sx06/sx07 family pattern):

  * per micro-batch: shingle JUST the batch (shingle_table — per-row
    array expressions, one distinct), anti-join its doc_ids against
    the already-indexed documents (a document re-delivered in a LATER
    batch must not double its shingles — first arrival wins, the
    stream-dedup semantics of sx06), and land the surviving (doc_id,
    shingle) rows as the batch's own ``batch_id`` partition of the
    index (streaming/landing.py), so a REPLAYED micro-batch
    (checkpoint recovery after a crash) lands idempotently;
  * serving: ``screen()`` computes containment pairs from the whole
    persisted index via pairs_from_shingles — identical bucket/cap/
    ratio plan to the batch operator (one hash shuffle of the index on
    the shingle, each unordered pair expanded once), so served pairs
    are exactly ``containment_pairs(distinct docs ever streamed)``.

Why serve-from-index rather than emit-per-batch: the df-cap is a
GLOBAL statistic — a shingle under the cap in early batches can cross
it later, retroactively invalidating pairs an eager emitter already
produced. Maintaining the index incrementally (cheap, append-only,
idempotent) and computing pairs over the capped FINAL space keeps the
statistic self-consistent and bit-equal to the batch face at any
stop point. At 100 TB the per-batch cost is the batch's own shingle
explode + one key-partitioned anti-join against the index's doc_id
projection (never a broadcast of history); the index is partitioned
parquet a real deployment would bucket by shingle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from eth_options_data_pipeline_spark.operators.containment import (
    pairs_from_shingles, shingle_table,
)
from eth_options_data_pipeline_spark.streaming.landing import (
    land, landed, run_available_now,
)


class StreamingContainmentScreen:
    """foreachBatch driver maintaining the (doc_id, shingle) index."""

    def __init__(self, state_dir: str, n: int = 3,
                 min_containment: float = 0.5, df_cap: int = 20,
                 text_col: str = "text") -> None:
        self.state_dir = state_dir
        self.n = n
        self.min_containment = min_containment
        self.df_cap = df_cap
        self.text_col = text_col

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sh = shingle_table(batch_df, text_col=self.text_col, n=self.n)
        seen = landed(spark, self.state_dir, exclude_batch=batch_id)
        if seen is not None:
            sh = sh.join(seen.select("doc_id").distinct(), "doc_id",
                         "left_anti")
        land(sh, self.state_dir, batch_id)

    def start(self, stream: DataFrame, checkpoint_dir: str):
        return run_available_now(stream, self._process_batch, checkpoint_dir)

    def index(self, spark: SparkSession) -> DataFrame:
        """The maintained (doc_id, shingle, batch_id) index."""
        index = landed(spark, self.state_dir)
        if index is None:
            raise FileNotFoundError(f"no index at {self.state_dir}")
        return index

    def screen(self, spark: SparkSession) -> DataFrame:
        """Containment pairs over every document indexed so far —
        bit-equal to containment_pairs over the distinct streamed
        documents (the dx58 batch face)."""
        return pairs_from_shingles(
            self.index(spark).select("doc_id", "shingle"),
            min_containment=self.min_containment, df_cap=self.df_cap)
