"""Leakage-safe train/validation/test splits.

A plain per-document hash split leaks: near-duplicate documents land
on both sides of the train/test fence and the eval set stops
measuring generalization (the classic contamination failure mode the
dedup literature warns about). The fix is to split by duplicate
CLUSTER, not by document — every member of a near-dup cluster gets
the same assignment.

Pipeline shape: near-dup pairs (from the MinHash-LSH / SimHash /
SemDeDup operators) -> connected components (operators/components.py,
O(log n) star rounds) -> cluster key per doc (singletons are their
own cluster) -> seeded md5 split on the CLUSTER key -> broadcast-free
assignment (the split decision is a per-row expression; only the
doc->cluster mapping joins, shuffled on the doc id).

Deterministic: same seed + same pair set => same split, on any
engine (md5, not a JVM hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.components import connected_components


# md5 salt of the split hash: same seed + same pair set => same split
SPLIT_SEED = "split-v1"


def _hash01(key: Column, seed: str) -> Column:
    """Uniform [0,1) from the first 15 hex digits of md5(seed|key)."""
    return (F.conv(F.substring(F.md5(F.concat(F.lit(seed + "|"),
                                              key.cast("string"))), 1, 15),
                   16, 10).cast("double") / F.lit(float(16 ** 15)))


def split_column(key: Column, fractions: dict[str, float]) -> Column:
    """CASE expression mapping a key to a split name by cumulative
    fraction bands over the seeded hash."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    h = _hash01(key, SPLIT_SEED)
    expr = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        expr = (F.when(h < acc, name) if expr is None
                else expr.when(h < acc, name))
    return (F.lit(names[0]) if expr is None
            else expr.otherwise(names[-1])).alias("split")


def leakage_safe_split(docs: DataFrame, pairs: DataFrame,
                       fractions: dict[str, float]) -> DataFrame:
    """Assign every doc a split; near-dup clusters never straddle one.

    ``pairs`` is an undirected near-dup edge list with columns
    (src, dst) over doc ids (any of the dedup operators' pair output).
    Docs in no pair split independently on their own id.
    """
    comp = connected_components(pairs).withColumnRenamed("node", "doc_id")
    keyed = (
        docs.join(comp, "doc_id", "left")
        .withColumn("_skey", F.coalesce("component", F.col("doc_id")))
    )
    return keyed.withColumn(
        "split", split_column(F.col("_skey"), fractions)
    ).drop("component", "_skey")
