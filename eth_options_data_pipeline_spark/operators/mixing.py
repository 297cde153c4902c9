"""Deterministic dataset mixing: combine sources at target weights,
including weights > 1 (epoch-style oversampling).

Every published pretraining mixture (The Pile's per-set epochs,
Dolma/RedPajama source weights, Llama's sampling proportions) is
"source S contributes with weight w": w = 0.3 drops 70% of S, w = 2.5
repeats every S row twice and a deterministic 50% of rows a third
time. Doing the fractional part with ``rand()`` makes every run a
different dataset; here both parts derive from md5(seed | id) — the
same machinery as sampling.py — so the mixture is byte-reproducible
and replayable in any engine with md5.

Scale shape: integer repeats are an in-row ``explode(sequence(...))``
(no shuffle, rows amplified map-side exactly where they're read);
the fractional part is one hash-threshold filter. Nothing is
collected; nothing is joined. Downstream, export_shuffle gives each
copy a distinct position via its copy-aware id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.sampling import _hash01

COPY_COL = "mix_copy"


def weight_source(df: DataFrame, id_col: str, weight: float,
                  seed: str = "mix") -> DataFrame:
    """One source at sampling weight ``weight`` (>= 0): each row kept
    ``floor(weight)`` times, plus once more for the deterministic
    ``weight - floor(weight)`` hash slice. Adds ``mix_copy``
    (0-based copy index) so repeated rows stay distinguishable —
    export_shuffle on (id, mix_copy) spreads copies across shards."""
    if weight < 0:
        raise ValueError(f"weight must be >= 0, got {weight}")
    whole = int(weight)
    frac = weight - whole
    copies = F.lit(whole) + F.when(
        _hash01(F.col(id_col), seed) < F.lit(frac), 1).otherwise(0)
    return (
        df.withColumn("_n_copies", copies)
        .where(F.col("_n_copies") > 0)
        .withColumn(COPY_COL,
                    F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1)))
        .drop("_n_copies")
    )


def temperature_mix(df: DataFrame, source_col: str, id_col: str,
                    alpha: float = 0.5,
                    seed: str = "tmix") -> DataFrame:
    """Multinomial temperature sampling over the dataset's OWN source
    histogram: source ``s`` with ``n_s`` rows is drawn with
    ``p(s) ∝ n_s^alpha`` (mT5's mixing rule — ``alpha < 1`` flattens
    the distribution toward small sources, ``alpha = 1`` keeps natural
    proportions), materialized as a per-row copy count exactly like
    ``weight_source``: weight ``w_s = total * p(s) / n_s`` means
    ``floor(w_s)`` guaranteed copies plus a deterministic
    ``w_s - floor(w_s)`` hash slice, with ``total`` the input row count
    (reshape, same size).

    Unlike ``mix_sources`` the weights are DERIVED IN-PLAN from the
    source counts (a sources-row aggregate broadcast back onto the
    fact side) — nothing is collected, so the operator composes lazily
    and scales to any number of sources. Weights are rounded to
    9 decimals before the floor/frac split so the copy decision is a
    pure function of (seed, source, id, rounded weight) in any engine.
    Emits ``mix_weight`` (the rounded weight) and ``mix_copy``.
    """
    n = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_ns"))
    z = n.agg(F.sum(F.pow("_ns", F.lit(float(alpha)))).alias("_z"),
              F.sum("_ns").alias("_n_total"))
    tot = F.col("_n_total")
    weights = (
        n.crossJoin(F.broadcast(z))
        .select(source_col,
                F.round(tot * F.pow("_ns", F.lit(float(alpha)))
                        / F.col("_z") / F.col("_ns"),
                        9).alias("mix_weight"))
    )
    frac = F.col("mix_weight") - F.floor("mix_weight")
    h = _hash01(F.concat_ws("|", F.col(source_col),
                            F.col(id_col).cast("string")), seed)
    copies = (F.floor("mix_weight")
              + F.when(h < frac, F.lit(1)).otherwise(F.lit(0)))
    return (
        df.join(F.broadcast(weights), source_col)
        .withColumn("_n_copies", copies)
        .where(F.col("_n_copies") > 0)
        .withColumn(COPY_COL,
                    F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1)))
        .drop("_n_copies")
    )


def mix_sources(sources: dict[str, tuple[DataFrame, float]], id_col: str) -> DataFrame:
    """Union of sources, each at its weight, tagged with ``mix_source``.
    Per-source seeds are derived (seed|name) so two sources sharing id
    ranges don't correlate their fractional keeps."""
    parts = []
    for name, (df, w) in sources.items():
        parts.append(
            weight_source(df, id_col, w, seed=f"mix|{name}")
            .withColumn("mix_source", F.lit(name)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
