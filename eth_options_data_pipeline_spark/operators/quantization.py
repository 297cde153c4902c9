"""Embedding quantization: int8 storage with per-vector scale.

A 100 TB corpus with float32 embeddings spends 4 bytes/dim; symmetric
int8 quantization (q_i = round(x_i / s), s = max|x| / 127 per vector)
cuts that 4x with near-zero retrieval loss — the standard first rung
of the vector-storage ladder (faiss SQ8 / product quantization being
the heavier rungs). Cosine similarity is scale-invariant, so ranking
on the quantized vectors needs no dequantization at all: the per-
vector scales cancel.

All per-row array expressions (transform) — quantization is a map-side
projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Q_COL = "emb_q"
SCALE_COL = "emb_scale"


def _max_abs(vec: Column) -> Column:
    return F.array_max(F.transform(vec, lambda x: F.abs(x)))


def quantize_int8(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Adds ``emb_q`` (array<tinyint>) and ``emb_scale`` (float):
    x ~= q * scale, q in [-127, 127]. All-zero vectors get scale 0 and
    an all-zero code (never a null or a division by zero)."""
    v = F.col(vec_col)
    # scale lands in its own projection first: referenced inside the
    # transform lambda, the array_max expression would re-evaluate per
    # element (O(dim^2) per row)
    out = df.withColumn(SCALE_COL, (_max_abs(v) / F.lit(127.0)).cast("double"))
    s = F.col(SCALE_COL)
    q = F.when(s > 0, F.transform(
        v, lambda x: F.round(x / s).cast("tinyint"))
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return out.withColumn(Q_COL, q)


def dequantize(q: Column, scale: Column) -> Column:
    """array<tinyint>, scale -> array<double>; max elementwise error is
    scale/2 by construction (round-to-nearest)."""
    return F.transform(q, lambda x: x.cast("double") * scale)
