"""Per-group quantile gating: keep the top ``keep_frac`` of documents
per group (domain / language / source) by a score column — the
standard way a corpus pipeline applies one quality bar per domain
without hand-tuning absolute cutoffs (C4/Gopher-style pipelines
threshold per source).

``quantile_gate_exact`` is a percent_rank window per group. Exact and
engine-independent, but a window sorts each group inside ONE task:
correct only while every group fits a partition.

Ties sit exactly AT the threshold; they are kept
(``score >= threshold``) so the kept set is a deterministic function
of the data, not of row order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def quantile_gate_exact(df: DataFrame, group_col: str, score_col: str,
                        keep_frac: float) -> DataFrame:
    """Keep rows whose score is >= the exact per-group
    (1-keep_frac) quantile (percent_rank >= 1-keep_frac on ascending
    score). Window face — single-task per group, oracle use only."""
    w = Window.partitionBy(group_col).orderBy(F.col(score_col).asc())
    return (
        df.withColumn("_pr", F.percent_rank().over(w))
        .where(F.col("_pr") >= F.lit(1.0 - keep_frac))
        .drop("_pr")
    )
