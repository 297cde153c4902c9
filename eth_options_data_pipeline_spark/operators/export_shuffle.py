"""Deterministic global shuffle + sharding for training-data export.

Training runs read the corpus as a stream of shards; sample order is
part of the experiment (curriculum effects, data-order ablations,
exact resume-from-step reproduction), so the shuffle must be a
deterministic function of (corpus, seed) — NOT Spark's
``df.orderBy(rand())``, whose sample is seeded per-partition and whose
result changes with the physical partitioning of the input.

The permutation key here is ``md5(seed | stable_id)``: uniform,
engine-reproducible (any system with md5 can replay the exact
ordering), and independent of how the input happens to be partitioned.
Shards are the key's leading bytes modulo num_shards, so shard
membership AND intra-shard order both follow from (id, seed) alone.

Scale shape: one hash-exchange on the shard id + an intra-partition
sort — the same cost as any full repartition of the corpus, which a
global shuffle fundamentally requires (there is no shuffle-free
shuffle). No global sort: orderBy across shards is unnecessary because
readers consume shards independently; sortWithinPartitions avoids the
range-exchange a global orderBy would add.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SHARD_COL = "shard"
KEY_COL = "_shuffle_key"


def assign_shards(df: DataFrame, id_col: str, seed: str,
                  num_shards: int) -> DataFrame:
    """Adds the permutation key and the shard id (0..num_shards-1),
    both deterministic in (id, seed)."""
    key = F.md5(F.concat_ws("|", F.lit(seed), F.col(id_col).cast("string")))
    shard = F.pmod(F.conv(F.substring(key, 1, 8), 16, 10).cast("long"),
                   F.lit(num_shards)).cast("int")
    return df.withColumn(KEY_COL, key).withColumn(SHARD_COL, shard)
