"""CCNet-style boilerplate removal: line-level dedup by document
frequency (Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data"). Navigation bars, cookie
banners and footers repeat across thousands of pages; lines whose
document frequency crosses a threshold are dropped from EVERY doc,
including the first one that carried them.

Scale shape: docs explode to (line_digest, doc_id) — 16-byte digests,
never line text — and the document-frequency count is one
map-side-combinable groupBy on the digest. The frequent-digest set is
typically tiny (boilerplate is by definition a small vocabulary of
very common lines), so the removal pass is a broadcast anti-join
against it per exploded line; the rebuild is a groupBy(doc) ordered
re-concat. Total: two digest-keyed shuffles plus one doc-keyed
shuffle; document bodies cross the wire once (the rebuild).

Line normalization before hashing (lowercase + collapse whitespace +
strip digits, as in CCNet) makes near-identical boilerplate variants
("3 comments" vs "17 comments") collide on purpose.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalized_line_digest(line: Column) -> Column:
    """md5 of the CCNet-normalized line: casefold, digits stripped,
    whitespace collapsed."""
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(line), r"\d+", ""), r"\s+", " "))
    return F.md5(norm)


def frequent_lines(docs: DataFrame, min_df: int) -> DataFrame:
    """(line_digest, df) for normalized lines appearing in >= min_df
    DISTINCT docs. Two-stage distinct-then-count, both partial-agg."""
    lines = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.col("text"), "\n")).alias("_line"))
    return (
        lines.select("doc_id", normalized_line_digest(F.col("_line")).alias("line_digest"))
        .distinct()                                   # per-doc dedup first
        .groupBy("line_digest").agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
    )


def strip_boilerplate(docs: DataFrame, min_df: int) -> DataFrame:
    """Rebuild every doc without its boilerplate lines.

    Returns (id, text, text_stripped, n_lines_removed). Line order is
    preserved via posexplode; empty docs survive as empty strings.
    """
    lines = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("_pos", "_line"))
    boiler = frequent_lines(docs, min_df)
    kept = (
        lines.withColumn("line_digest", normalized_line_digest(F.col("_line")))
        .join(F.broadcast(boiler), "line_digest", "left_anti")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"]),
            "\n").alias("text_stripped"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    n_lines = F.size(F.split(F.col("text"), "\n"))
    return (
        docs.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id", "text",
            F.coalesce("text_stripped", F.lit("")).alias("text_stripped"),
            (n_lines - F.coalesce("_n_kept", F.lit(0)))
            .alias("n_lines_removed"),
        )
    )
