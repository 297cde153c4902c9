"""Vector-similarity operators over array<float> embedding columns.

Brute-force cosine (exact rerank stage) + Rademacher-hyperplane LSH
bucketing (candidate-generation stage). The hyperplanes are ±1 vectors
derived from md5 bits, so bucket assignment is deterministic and
reproducible in any engine — the whole ANN pipeline is oracle-checkable.

Scale shape (100 TB): bucketing is a narrow per-row projection; the
candidate join shuffles on the small bucket id; exact cosine runs only
inside buckets. Everything is JVM-side expression code (zip_with /
aggregate) — no Python UDFs in the hot path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

LSH_PLANES = 8
EMBED_DIM = 64


def rademacher_planes() -> list[list[float]]:
    """Deterministic ±1 hyperplanes: sign of an md5 bit per (plane, dim).

    Plain Python so the same literals embed into both the Spark plan
    and the oracle SQL.
    """
    planes = []
    for i in range(LSH_PLANES):
        row = []
        for d in range(EMBED_DIM):
            h = hashlib.md5(f"{i}|{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) < 8 else -1.0)
        planes.append(row)
    return planes


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — bit-identical to DuckDB's
    list_dot_product on the same doubles."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def plane_literal(plane: list[float]) -> Column:
    return F.array(*[F.lit(v) for v in plane])


def _dlit(v: float) -> str:
    """Exact SQL double literal (repr round-trips; D keeps the parser
    off DECIMAL)."""
    return repr(float(v)) + "D"


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Bucket id: bit i set iff dot(vec, plane_i) > 0.

    Pass the column NAME (the common case) to get a single parsed
    expression — the Column path composes n_planes x dim literals one
    Py4J call at a time (~0.3 s of driver time at 8 x 64 per call
    site), the string path is one expr() parse. Both produce the
    identical left-to-right x*y fold and integer bit sum."""
    if isinstance(vec, str):
        terms = []
        for i, p in enumerate(planes):
            bank = ", ".join(_dlit(v) for v in p)
            terms.append(
                f"(CASE WHEN aggregate(zip_with(`{vec}`, array({bank}), "
                f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x) > 0 "
                f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
        return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))
    out = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        out = out + F.when(dot(vec, plane_literal(p)) > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
    return out


def plane_sql(plane: list[float]) -> str:
    return "[" + ", ".join(f"{v:.1f}" for v in plane) + "]::DOUBLE[]"


def lsh_bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({vec_expr}, {plane_sql(p)}) > 0 "
        f"THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return " + ".join(terms)


def cosine_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
