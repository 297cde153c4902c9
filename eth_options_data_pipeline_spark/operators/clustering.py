"""Iterative k-means over an embedding column — the full Lloyd loop
that vx04's single refinement step previews (reference has no ANN /
clustering surface; this extends the north-star training-data toolkit:
SemDeDup, IVF index builds, and curriculum bucketing all sit on it).

Scale shape (100 TB): centroids are a k x dim literal broadcast into
every task — the corpus never self-joins and never shuffles for the
ASSIGN step. The UPDATE step is one map-side-combinable groupBy over
k groups (dim avg columns, partial aggregation collapses each
partition to <= k rows before the exchange). Per iteration exactly one
job runs (collect the k new centroids); lineage stays flat because
each round re-plans from the base scan with new literals — no
checkpoint needed, unlike edge-contraction loops (components.py).

Two assignment kernels, tested identical (tests/test_clustering.py):

* ``method="expr"`` — per-centroid squared-L2 folds via zip_with /
  aggregate, argmin via array_min over (dist, idx) structs. Pure JVM
  expressions, deterministic, engine-independent (oracle-checkable).
  Spark HOFs are CodegenFallback (interpreted per element), so this
  pays k * dim interpreted ops per row — fine for moderate k.
* ``method="numpy"`` — Arrow-batched mapInPandas; squared-L2 matrices
  accumulated DIM BY DIM (``_fold_dists_np``) in the exact operation
  order of the expr kernel's fold, so distances — and therefore every
  assignment, including ties — are BIT-IDENTICAL across the two
  kernels and the DuckDB oracle's relational replay. That exactness
  deliberately trades away the classic ||c||^2 - 2 x.c BLAS matmul
  (whose reassociated sums differ in final ulps and can flip argmin
  ties): the dim loop is still vectorized C over (rows x members)
  panels, ~memory-bandwidth speed, 50-100x the interpreted HOF fold.
  The 100 TB hot path for large k * dim — the SemDeDup paper itself
  assigns with faiss (native SIMD), not a SQL engine.
"""

from __future__ import annotations

import json
import math
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dlit(v: float) -> str:
    """Exact SQL double literal: repr() is the shortest string that
    round-trips to the same double, and the D suffix keeps the parser
    from reading it as DECIMAL."""
    return repr(float(v)) + "D"


def ivf_anchor_slots(k: int) -> list[int]:
    """Anchor centroid POSITIONS for two-level (IVF-assisted)
    assignment: every ``step``-th fine centroid, ``step = ceil(k /
    ceil(sqrt(k)))`` — <= ceil(sqrt(k)) anchors, chosen by index so
    any engine can re-derive them from the centroid table alone
    (``WHERE cluster % step = 0``; seed order is already a uniform
    md5 draw, so index-striding is an unbiased sample). Slot i =
    position // step."""
    c = math.ceil(math.sqrt(k))
    step = -(-k // c)
    return list(range(0, k, step))


def ivf_members(centroids: list[list[float]],
                slots: list[int]) -> list[int]:
    """Per fine centroid: its anchor SLOT (nearest anchor by
    (squared-L2, slot), the same left-to-right fold and tie rule the
    row-assignment kernels use). Driver-side — k x sqrt(k) scalar
    folds over lists already collected for the literal bank."""
    out = []
    for cv in centroids:
        best = None
        for s_idx, pos in enumerate(slots):
            a = centroids[pos]
            d = 0.0
            for x, y in zip(cv, a):
                t = x - y
                d += t * t
            if best is None or (d, s_idx) < best:
                best = (d, s_idx)
        out.append(best[1])
    return out


def assign_centroids(df: DataFrame, centroids: list[list[float]],
                     method: str = "expr",
                     coarse_nprobe: int | None = None) -> DataFrame:
    """(id, cluster) — nearest centroid per row, ties to the lowest
    cluster index. No shuffle: centroids ride into the tasks as
    literals (expr) or a closure-captured ndarray (numpy).

    ``coarse_nprobe`` switches both kernels to two-level IVF-assisted
    assignment (the faiss move the SemDeDup paper itself makes instead
    of brute force): rank the <= ceil(sqrt(k)) anchor centroids
    (ivf_anchor_slots), probe the ``nprobe`` nearest anchors, and take
    the argmin over only THEIR member centroids — O(sqrt(k) * nprobe)
    distance folds per row instead of O(k), which is what keeps the
    paper rule k = ceil(n / target) from making assignment quadratic
    in n (r14 ramp finding). The probe is approximate (the true
    nearest centroid can live in an unprobed cell — bounded recall
    trade, the LSH_BUCKET_CAP family) but DETERMINISTIC and
    engine-replayable: anchors are index-strided, members and probes
    rank by (squared-L2, index), so an oracle can replay the exact
    assignment relationally. With nprobe >= the anchor count it
    degenerates to exact brute force. More than ``BANK_MAX_K``
    centroids raise ValueError."""
    if coarse_nprobe is not None:
        _check_k(len(centroids))
        return _assign_ivf(df, centroids, method, coarse_nprobe)
    if method == "expr":
        # ONE parsed expression instead of k Py4J-built fold subtrees:
        # the k x dim centroid bank is a nested array literal and the
        # squared-L2 fold appears once inside the transform lambda, so
        # driver construction is a single expr() parse (the k-subtree
        # Column composition paid ~2 Py4J round trips per literal —
        # 0.5 s at k*dim = 640 — and made the analyzer walk k copies
        # of the fold on every downstream action). Float-op order is
        # IDENTICAL: per centroid the same zip_with/(x-y)*(x-y) fold
        # accumulated left-to-right from 0.0, argmin via array_min
        # over (d, i) structs with ties to the lowest index.
        bank = ", ".join(
            "array(" + ", ".join(_dlit(v) for v in c) + ")"
            for c in centroids)
        cluster = F.expr(
            f"array_min(transform(array({bank}), (c, i) -> named_struct("
            f"'d', aggregate(zip_with(`embedding`, c, "
            f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x), "
            f"'i', i))).i")
        return df.select(F.col("vec_id"), cluster.alias("cluster"))
    if method == "numpy":
        import numpy as np
        import pandas as pd

        cent = np.asarray(centroids, dtype=np.float64)
        fold = _fold_dists_np   # closure cell -> pickled by value

        def part(batches: Iterable["pd.DataFrame"]):
            # nested closure: cloudpickled by value, so the driver
            # process needs no importable repo on sys.path
            for pdf in batches:
                x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                # bit-identical to the expr fold (see _fold_dists_np);
                # argmin's first-occurrence rule = ties to lowest index
                d = fold(np, x, cent)
                yield pd.DataFrame({
                    "vec_id": pdf["vec_id"],
                    "cluster": d.argmin(axis=1).astype("int32"),
                })
        out_schema = "vec_id long, cluster int"
        return df.select("vec_id", "embedding").mapInPandas(part, out_schema)
    raise ValueError(f"unknown method {method!r}")


def _fold_dists_factory():
    """Returns the numpy distance-panel kernel as a NESTED function:
    its ``<locals>`` qualname forces cloudpickle to serialize it BY
    VALUE into the mapInPandas closures, so a vanilla driver session
    whose workers cannot import this repo (the driver contract — cwd
    is not the repo, no PYTHONPATH) still runs it. A module-level def
    would pickle by reference and raise ModuleNotFoundError on the
    workers (caught by tools/verify_driver.py, r15)."""
    def _fold_dists_np(np, x, cents):
        """(rows x members) squared-L2 panel accumulated DIM BY DIM —
        ``acc += (x_d - c_d)^2`` for d ascending from acc = 0.0 — the
        exact IEEE-754 operation sequence of the expr kernel's
        ``aggregate(zip_with(...), 0.0, +)`` fold, so every distance
        is bit-identical to the JVM fold and to the oracle's replay
        (a reassociated ||c||^2 - 2 x.c matmul differs in final ulps
        and can flip argmin TIES). Each elementwise op is vectorized
        C over the panel; cost is memory-bandwidth, not interpreter,
        so it keeps the ~100x win over per-element HOF evaluation."""
        acc = np.zeros((x.shape[0], cents.shape[0]))
        for d in range(cents.shape[1]):
            t = x[:, d, None] - cents[None, :, d]
            acc += t * t
        return acc
    return _fold_dists_np


_fold_dists_np = _fold_dists_factory()


def _fold_sq(vec: Column, cent: Column) -> Column:
    """Squared L2 between two array columns as the SAME left-to-right
    fold the parsed expr kernel runs (zip_with diff-square, aggregate
    from 0.0) — Column-API HOFs build identical Catalyst nodes, so the
    float-op order is bit-identical across the kernels."""
    return F.aggregate(
        F.zip_with(vec, cent, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)


def _assign_ivf(df: DataFrame, centroids: list[list[float]], method: str,
                nprobe: int) -> DataFrame:
    """Two-level assignment (see assign_centroids). Per row: rank the
    anchor bank by (fold-L2, slot), probe the nprobe nearest slots,
    argmin (fold-L2, cluster) over their member centroids only.

    Shuffle-free like the brute kernels: the anchor bank and the
    slot-grouped member banks ride into tasks as DATA, not expression
    trees — ``from_json`` over ONE string literal per bank, which
    ConstantFolding collapses to a single array Literal at optimize
    time (verified: the optimized plan holds no from_json). Measured
    at k=1024 x dim=64: per-element ``F.lit`` composition costs 46 s
    of Py4J round trips and a parsed ``array(array(...))`` expr
    string costs ~5 s of analysis PER ACTION (65k tree nodes); the
    JSON bank constructs in ~0.01 s and folds in well under a second,
    so driver cost stays O(1) expression nodes at the paper-rule k of
    a web-scale corpus. Float fidelity is exact: json emits the
    shortest round-trip repr and Jackson's double parse is correctly
    rounded, so the folded Literal is bit-identical to the Python
    values."""
    k = len(centroids)
    slots = ivf_anchor_slots(k)
    memb = ivf_members(centroids, slots)
    nprobe = min(nprobe, len(slots))
    if method == "numpy":
        import numpy as np
        import pandas as pd

        cent = np.asarray(centroids, dtype=np.float64)
        anchors_np = cent[slots]
        memb_idx = [np.array([j for j in range(k) if memb[j] == s],
                             dtype=np.int64) for s in range(len(slots))]
        n_slots = len(slots)
        np_nprobe = nprobe
        fold = _fold_dists_np   # closure cell -> pickled by value

        def part(batches):
            for pdf in batches:
                x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                # bit-identical to the expr kernel's anchor folds
                da = fold(np, x, anchors_np)
                # stable argsort: equal distances tie to the lower slot
                probe = np.argsort(da, axis=1, kind="stable")[:, :np_nprobe]
                best_d = np.full(len(x), np.inf)
                best_j = np.full(len(x), k, dtype=np.int64)
                for s in range(n_slots):
                    js = memb_idx[s]
                    mask = (probe == s).any(axis=1)
                    if js.size == 0 or not mask.any():
                        continue
                    xm = x[mask]
                    d = fold(np, xm, cent[js])
                    loc = d.argmin(axis=1)   # js ascending: ties -> low j
                    dmin = d[np.arange(len(xm)), loc]
                    jmin = js[loc]
                    idx = np.where(mask)[0]
                    upd = (dmin < best_d[idx]) | (
                        (dmin == best_d[idx]) & (jmin < best_j[idx]))
                    best_d[idx] = np.where(upd, dmin, best_d[idx])
                    best_j[idx] = np.where(upd, jmin, best_j[idx])
                yield pd.DataFrame({
                    "vec_id": pdf["vec_id"],
                    "cluster": best_j.astype("int32"),
                })
        out_schema = "vec_id long, cluster int"
        return df.select("vec_id", "embedding").mapInPandas(part, out_schema)
    if method != "expr":
        raise ValueError(f"unknown method {method!r}")
    def _bank(nested, dtype: str) -> Column:
        # one string literal -> ConstantFolding -> one array Literal
        return F.from_json(F.lit(json.dumps(nested)), dtype)

    abank = _bank([[float(v) for v in centroids[p]] for p in slots],
                  "array<array<double>>")
    # A slot is empty only when its anchor duplicates a lower-indexed
    # anchor (members tie to the lower slot). Pad it with its own
    # anchor: result-neutral — probing the empty slot implies the
    # twin holder slot (same distance, lower index) was probed first,
    # so the padded candidate is already in the set — and it keeps
    # the nested literals uniformly non-empty for type inference.
    memb_lists = [[j for j in range(k) if memb[j] == s] or [slots[s]]
                  for s in range(len(slots))]
    memb_j = _bank(memb_lists, "array<array<int>>")
    memb_c = _bank([[[float(v) for v in centroids[j]] for j in js]
                    for js in memb_lists],
                   "array<array<array<double>>>")
    vec = F.col("embedding")
    probed = F.slice(
        F.array_sort(F.transform(
            abank,
            lambda a, i: F.struct(_fold_sq(vec, a).alias("d"),
                                  i.alias("i")))),
        1, nprobe)
    # the probed-slot array is the transform INPUT below — evaluated
    # once per row, never per member element
    cand_j = F.flatten(F.transform(
        probed, lambda p: F.element_at(memb_j, p["i"] + F.lit(1))))
    cand_c = F.flatten(F.transform(
        probed, lambda p: F.element_at(memb_c, p["i"] + F.lit(1))))
    cluster = F.array_min(F.zip_with(
        cand_c, cand_j,
        lambda c, j: F.struct(_fold_sq(vec, c).alias("d"),
                              j.alias("j"))))["j"]
    return df.select(F.col("vec_id"), cluster.cast("int").alias("cluster"))


# Largest k the centroid bank supports: the bank rides into every task
# as one plan literal and the Lloyd loop keeps centroids on the driver.
# Callers that derive k from the corpus bound it through
# train_semdedup_centroids(target_cluster_size=...).
BANK_MAX_K = 4096


def _check_k(k: int) -> None:
    if k > BANK_MAX_K:
        raise ValueError(
            f"k={k} centroids exceeds BANK_MAX_K={BANK_MAX_K}; bound the "
            f"derived k with train_semdedup_centroids(target_cluster_size=...)")


def _seed_centroids(df: DataFrame, k: int) -> list[list[float]]:
    """Deterministic seeds: the k rows with the smallest md5(id) —
    a seeded uniform draw reproducible in any engine."""
    rows = (
        df.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k).collect()
    )
    return [[float(v) for v in r["embedding"]] for r in rows]


# Decimals each Lloyd mean is rounded to. The mean is the only float op
# in the loop whose partial-aggregation merge order depends on the
# engine, the partitioning and shuffle arrival, so rounding it makes
# every training bit-reproducible, run to run and across engines (the
# vx04 oracle technique).
CENTROID_DECIMALS = 9


def _update_centroids(df: DataFrame, assigned: DataFrame, k: int,
                      dim: int, prev: list[list[float]]) -> list[list[float]]:
    """Element-wise mean per cluster: dim avg columns, map-side
    partial aggregation, <= k rows reach the driver. Each mean is
    rounded to ``CENTROID_DECIMALS``."""
    rows = (
        df.join(assigned, "vec_id")
        .groupBy("cluster")
        .agg(*[F.avg(F.col("embedding")[i]).alias(f"m{i}") for i in range(dim)])
        .collect()
    )
    nxt = [list(c) for c in prev]          # empty cluster keeps its seat
    for r in rows:
        nxt[r["cluster"]] = [float(r[f"m{i}"]) for i in range(dim)]
    return [[round(v, CENTROID_DECIMALS) for v in c] for c in nxt]


def kmeans(df: DataFrame, k: int, max_iters: int = 10, method: str = "expr",
           coarse_nprobe: int | None = None,
           ) -> tuple[DataFrame, list[list[float]]]:
    """Full Lloyd loop. Returns (assignments (id, cluster), centroids).

    Stops when the max centroid shift (L2) drops below 1e-6 or
    after ``max_iters``. The returned assignment DataFrame is lazy
    and replans from the base scan with the final centroids.
    ``coarse_nprobe`` runs every assignment pass (loop and final)
    through the two-level IVF-assisted kernel — see assign_centroids.
    ``k`` above ``BANK_MAX_K`` raises ValueError before any job runs.
    """
    _check_k(k)
    vecs = df.select(F.col("vec_id"),
                     F.col("embedding").cast("array<double>").alias("embedding"))
    # dim comes from the seed rows — no separate first() job
    cents = _seed_centroids(vecs, k)
    if not cents:
        return assign_centroids(vecs, [[0.0]]), []
    dim = len(cents[0])
    for _ in range(max_iters):
        assigned = assign_centroids(vecs, cents, method,
                                    coarse_nprobe=coarse_nprobe)
        nxt = _update_centroids(vecs, assigned, k, dim, cents)
        shift = max(
            math.sqrt(sum((a - b) ** 2 for a, b in zip(ca, cb)))
            for ca, cb in zip(cents, nxt)
        )
        cents = nxt
        if shift < 1e-6:
            break
    return assign_centroids(vecs, cents, method,
                            coarse_nprobe=coarse_nprobe), cents

