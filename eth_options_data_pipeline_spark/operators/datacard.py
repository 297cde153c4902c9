"""Corpus data card: the per-source / per-language mixture report a
training dataset ships with (counts, token mass, length distribution,
duplication and PII prevalence), computed in ONE scan of the corpus.

Every released dataset publishes this table (the C4/Pile/Dolma data
cards); every mixture decision (mixing.py weights) starts from it.
The implementation point is single-pass: all grouping levels —
(source, lang), (source), (lang), overall — come out of one
``groupingSets`` aggregate, and every statistic is a mergeable
aggregate (sums, counts, approx-percentile sketches, HLL registers),
so the plan is scan -> Expand -> partial agg -> one small exchange.
The Expand multiplies rows by the number of grouping sets BEFORE
partial aggregation, but map-side combine collapses each set to
|groups| rows per task — the exchange stays tiny while the corpus is
read exactly once (vs four separate scans for four group-bys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.pii import EMAIL
from eth_options_data_pipeline_spark.operators.repetition import (
    DEFAULT_SEG_PATTERN, _segments,
)

TOTAL = "<all>"


def corpus_datacard(docs: DataFrame) -> DataFrame:
    """One row per grouping-set cell; ``source``/``lang`` carry
    ``<all>`` on rolled-up levels (never null, so roll-up cells stay
    unambiguous even when real values could be null).

    Columns: n_docs, n_tokens, n_chars, p50/p90_doc_tokens (approx,
    mergeable), approx_unique (HLL over the lowercase fingerprint —
    1 - approx_unique/n_docs estimates the exact-dup rate),
    dup_doc_rate, pii_email_rate (docs with >= 1 email), repeat_doc
    rate (docs with any repeated segment).
    """
    t = F.trim(F.col("text"))
    n_words = F.when(F.length(t) == 0, 0).otherwise(F.size(F.split(t, r"\s+")))
    segs = _segments(F.col("text"), DEFAULT_SEG_PATTERN)
    has_repeat = (F.size(segs) > F.size(F.array_distinct(segs))).cast("int")
    per_doc = docs.select(
        F.coalesce(F.col("source"), F.lit("?")).alias("source"),
        F.coalesce(F.col("lang"), F.lit("?")).alias("lang"),
        F.length(F.col("text")).alias("n_chars"),
        n_words.alias("n_words"),
        F.md5(F.lower(t)).alias("fp"),
        (F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL), F.lit(0))) > 0)
        .cast("int").alias("has_email"),
        has_repeat.alias("has_repeat"),
    )
    agged = (
        per_doc.groupingSets(
            [["source", "lang"], ["source"], ["lang"], []],
            "source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.percentile_approx("n_words", 0.5).alias("p50_doc_tokens"),
            F.percentile_approx("n_words", 0.9).alias("p90_doc_tokens"),
            F.hll_sketch_estimate(F.hll_sketch_agg("fp")).alias("approx_unique"),
            F.avg("has_email").alias("pii_email_rate"),
            F.avg("has_repeat").alias("repeat_doc_rate"),
        )
    )
    return agged.select(
        F.coalesce(F.col("source"), F.lit(TOTAL)).alias("source"),
        F.coalesce(F.col("lang"), F.lit(TOTAL)).alias("lang"),
        "n_docs", "n_tokens", "n_chars", "p50_doc_tokens", "p90_doc_tokens",
        "approx_unique",
        F.greatest(F.lit(0.0),
                   1 - F.col("approx_unique") / F.col("n_docs")).alias("dup_doc_rate"),
        "pii_email_rate", "repeat_doc_rate",
    )
