"""Deduplication operators (SURVEY §2 W4 + north-star dedup suite).

``keep_last`` replicates pandas ``drop_duplicates(keep='last')``
(reference main.py:233) — Spark's ``dropDuplicates`` keeps an
*arbitrary* row, so the engine materializes an explicit order column
and ranks within key (SURVEY §7.4 trap 1). The fuzzy-dedup family
(MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine) lives in
text.py / vectors.py; exact-hash dedup is here because it is the
same shape as keep_last.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_ingest_order(df: DataFrame, col_name: str = "_ingest_order") -> DataFrame:
    """Materialize source order *before* any shuffle.

    ``monotonically_increasing_id`` encodes (partition id, in-partition
    position) — monotone within the source read order, which is what
    pandas "insertion order" means for a single-scan ingest.
    """
    return df.withColumn(col_name, F.monotonically_increasing_id())


def first_per_key(df: DataFrame, keys: Sequence[str], order: str) -> DataFrame:
    """One row per key: the first under ``order``, a SQL ORDER BY list.

    Window row_number == 1, written as SQL text (one JVM parse). At
    scale this is a single hash shuffle on the key (same cost as any
    groupBy); no driver state.
    """
    part = ", ".join(f"`{k}`" for k in keys)
    return (
        df.withColumn("_rn", F.expr(f"row_number() OVER (PARTITION BY {part} ORDER BY {order})"))
        .where("_rn = 1")
        .drop("_rn")
    )


def keep_last(df: DataFrame, keys: Sequence[str], order_col: str = "_ingest_order") -> DataFrame:
    """W4: one row per key — the LAST by ``order_col``."""
    return first_per_key(df, keys, f"`{order_col}` DESC")


def keep_first(df: DataFrame, keys: Sequence[str], order_col: str) -> DataFrame:
    return first_per_key(df, keys, f"`{order_col}` ASC")


def exact_dedup(df: DataFrame, content_cols: Sequence[str], id_col: str) -> DataFrame:
    """Exact content dedup: group rows by content hash, keep the row
    with the minimum id (deterministic canonical representative).

    The hash-groupBy pattern: at 100 TB the shuffle key is the fixed-
    width digest, not the document body, so shuffle volume is bounded
    by rows x 32 bytes + the surviving payloads.
    """
    digest = F.md5(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in content_cols]))
    w = Window.partitionBy("_digest").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_digest", digest)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_digest")
    )


def duplicate_groups(df: DataFrame, content_cols: Sequence[str], id_col: str) -> DataFrame:
    """Report exact-duplicate clusters: (digest, n_dups, canonical_id)
    for clusters with > 1 member. Useful as an audit query and as the
    oracle-checkable face of exact_dedup.
    """
    digest = F.md5(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in content_cols]))
    return (
        df.withColumn("digest", digest)
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(F.col(id_col)).alias("canonical_id"),
        )
        .where(F.col("n_dups") > 1)
    )
