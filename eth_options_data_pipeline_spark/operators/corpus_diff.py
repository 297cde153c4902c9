"""Corpus snapshot diff — what changed between two pipeline runs.

An incremental training-data pipeline re-lands the corpus on every
run; the operational question is "what did this run actually change?"
(docs added / removed / rewritten / untouched), as per-doc status rows
feeding downstream incremental work (re-embed only changed docs,
re-screen only added ones — see incremental_dedup.py).

Scale shape: each side collapses to (id, digest) BEFORE the join —
the document bodies never shuffle; the diff is one full-outer hash
join on the id. Change detection compares content digests, so "same
bytes re-landed" is correctly `unchanged` even if file layout moved
(compaction, re-partitioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# columns whose digest decides "changed"; NULL and "" digest apart
CONTENT_COLS = ["text"]


def _digested(df: DataFrame, id_col: str, content_cols: list[str],
              side: str) -> DataFrame:
    digest = F.md5(F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                  for c in content_cols]))
    return df.select(F.col(id_col), digest.alias(f"_d_{side}"))


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """(id, status) for every doc in either snapshot; status in
    {'added', 'removed', 'changed', 'unchanged'}."""
    o = _digested(old, "doc_id", CONTENT_COLS, "old")
    n = _digested(new, "doc_id", CONTENT_COLS, "new")
    return (
        o.join(n, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.when(F.col("_d_old").isNull(), "added")
             .when(F.col("_d_new").isNull(), "removed")
             .when(F.col("_d_old") != F.col("_d_new"), "changed")
             .otherwise("unchanged").alias("status"),
        )
    )
