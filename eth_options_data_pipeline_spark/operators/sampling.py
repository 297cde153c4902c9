"""Deterministic sampling operators for training-data pipelines:
domain capping and stratified down-sampling.

Data-mixing jobs cap how much any one source/domain contributes and
down-sample strata to target proportions. Doing this with ``rand()``
makes every run a different dataset (and is un-checkable against any
oracle); both operators here derive their randomness from md5 of a
stable row id instead — the same content always makes the same cut,
re-runs are byte-identical, and the selection is reproducible in any
engine with md5 (the same determinism-over-convenience choice as the
MinHash family).

Scale shape: both are one window / one filter over a hash that
shuffles 8 bytes per row; no collect, no per-group state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _hash01(id_col, seed: str):
    """Deterministic uniform-ish [0, 1) from md5(seed | id): first 13
    hex chars (52 bits) fit a double exactly."""
    h = F.substring(F.md5(F.concat(F.lit(f"{seed}|"), id_col.cast("string"))), 1, 13)
    return F.conv(h, 16, 10).cast("double") / float(1 << 52)


def cap_per_group(df: DataFrame, keys: list[str], id_col: str, cap: int,
                  seed: str = "cap") -> DataFrame:
    """At most ``cap`` rows per group, chosen by deterministic hash
    order (a stable uniform sample of each group, not head-of-scan
    bias). Groups under the cap pass through whole."""
    w = Window.partitionBy(*keys).orderBy(
        _hash01(F.col(id_col), seed), F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= cap)
        .drop("_rk")
    )


def sample_strata(df: DataFrame, stratum_col: str, id_col: str,
                  fractions: dict[str, float], seed: str = "strata") -> DataFrame:
    """Keep a deterministic ``fractions[stratum]`` share of each
    stratum (hash-threshold Bernoulli; strata absent from the map keep
    ``default``). Unlike ``DataFrame.sampleBy`` the selection is a
    pure function of (seed, id), so re-runs and replays agree."""
    thr = F.lit(float(1.0))
    for k, frac in fractions.items():
        thr = F.when(F.col(stratum_col) == k, F.lit(float(frac))).otherwise(thr)
    return df.where(_hash01(F.col(id_col), seed) < thr)
