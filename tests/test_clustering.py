"""Full-loop k-means vs an exact Python replica (same deterministic
md5 seeding, same Lloyd updates, same tie rules), plus kernel
equivalence (expr vs numpy) and plan shape (assignment is
shuffle-free)."""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import clustering
from tests.job_groups import job_group

DIM = 8
K = 4


def make_vectors(n: int = 120, seed: int = 7):
    rng = random.Random(seed)
    centers = [[rng.uniform(-1, 1) * 10 for _ in range(DIM)] for _ in range(K)]
    rows = []
    for i in range(n):
        c = centers[i % K]
        rows.append((i, [c[d] + rng.uniform(-0.5, 0.5) for d in range(DIM)]))
    return rows


def ref_kmeans(rows, k, max_iters=10, tol=1e-6):
    """Replica of clustering.kmeans: md5 seeds, Lloyd, empty-cluster
    hold, max-shift stop."""
    by_id = dict(rows)
    seeds = sorted(by_id, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:k]
    cents = [list(by_id[i]) for i in seeds]

    def assign(cents):
        out = {}
        for i, v in rows:
            dists = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in cents]
            out[i] = dists.index(min(dists))
        return out

    for _ in range(max_iters):
        a = assign(cents)
        nxt = [list(c) for c in cents]
        for ci in range(k):
            members = [by_id[i] for i in a if a[i] == ci]
            if members:
                nxt[ci] = [sum(m[d] for m in members) / len(members)
                           for d in range(DIM)]
        shift = max(
            sum((x - y) ** 2 for x, y in zip(ca, cb)) ** 0.5
            for ca, cb in zip(cents, nxt))
        cents = nxt
        if shift < tol:
            break
    return assign(cents), cents


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(make_vectors(), "vec_id long, embedding array<double>")


def test_kmeans_matches_replica(spark, vec_df):
    assigned, cents = clustering.kmeans(vec_df, K, max_iters=10)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    want, want_cents = ref_kmeans(make_vectors(), K)
    assert got == want
    assert np.allclose(np.array(cents), np.array(want_cents), atol=1e-9)


def test_expr_and_numpy_kernels_agree(spark, vec_df):
    _, cents = clustering.kmeans(vec_df, K, max_iters=3)
    e = clustering.assign_centroids(vec_df, cents, method="expr")
    n = clustering.assign_centroids(vec_df, cents, method="numpy")
    ge = {r["vec_id"]: r["cluster"] for r in e.collect()}
    gn = {r["vec_id"]: r["cluster"] for r in n.collect()}
    assert ge == gn


def test_fold_dists_np_bit_identical_to_scalar_fold():
    """The numpy kernels' distance panel must reproduce the expr
    fold's IEEE op order EXACTLY — acc starts at 0.0 and adds
    (x_d - c_d)^2 for d ascending — not a reassociated matmul form
    (||c||^2 - 2 x.c differs in final ulps and can flip argmin ties,
    which would break the dx42 oracle's bit-level replay). Python
    scalar floats are IEEE doubles, so == here is bit equality."""
    rng = random.Random(31)
    x = [[rng.uniform(-3, 3) for _ in range(DIM)] for _ in range(7)]
    c = [[rng.uniform(-3, 3) for _ in range(DIM)] for _ in range(5)]
    panel = clustering._fold_dists_np(
        np, np.asarray(x, dtype=np.float64), np.asarray(c, dtype=np.float64))
    for i, xv in enumerate(x):
        for j, cv in enumerate(c):
            acc = 0.0
            for xd, cd in zip(xv, cv):
                acc = acc + (xd - cd) * (xd - cd)
            assert panel[i, j] == acc, (i, j)


def ref_assign_ivf(rows, cents, nprobe):
    """Python replica of the two-level rule: anchors = index-strided
    centroids, probe the nprobe nearest anchors by (sq_l2, slot),
    argmin (sq_l2, cluster) over their members only."""
    slots = clustering.ivf_anchor_slots(len(cents))
    memb = clustering.ivf_members(cents, slots)
    nprobe = min(nprobe, len(slots))
    sq = lambda a, b: sum((x - y) * (x - y) for x, y in zip(a, b))
    out = {}
    for i, v in rows:
        ranked = sorted((sq(v, cents[p]), s) for s, p in enumerate(slots))
        probed = {s for _, s in ranked[:nprobe]}
        out[i] = min((sq(v, cents[j]), j)
                     for j in range(len(cents)) if memb[j] in probed)[1]
    return out


def test_ivf_assignment_matches_replica_and_degenerates_to_brute(
        spark, vec_df):
    """coarse_nprobe (r15): the IVF-assisted kernel must (a) equal
    brute force exactly when the probe covers every anchor, (b) match
    the Python replica of the deterministic two-level rule when the
    probe binds, (c) agree across the expr and numpy kernels, and
    (d) stay shuffle-free — the properties the dx42 oracle replays
    relationally."""
    _, cents = clustering.kmeans(vec_df, 9, max_iters=2)
    rows = make_vectors()
    slots = clustering.ivf_anchor_slots(9)
    assert slots == [0, 3, 6]

    brute = {r["vec_id"]: r["cluster"]
             for r in clustering.assign_centroids(vec_df, cents).collect()}
    wide = {r["vec_id"]: r["cluster"]
            for r in clustering.assign_centroids(
                vec_df, cents, coarse_nprobe=len(slots)).collect()}
    assert wide == brute

    e2 = {r["vec_id"]: r["cluster"]
          for r in clustering.assign_centroids(
              vec_df, cents, coarse_nprobe=2).collect()}
    assert e2 == ref_assign_ivf(rows, cents, 2)
    n2 = {r["vec_id"]: r["cluster"]
          for r in clustering.assign_centroids(
              vec_df, cents, coarse_nprobe=2, method="numpy").collect()}
    assert n2 == e2

    plan = (clustering.assign_centroids(vec_df, cents, coarse_nprobe=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_assignment_plan_is_shuffle_free(spark, vec_df):
    _, cents = clustering.kmeans(vec_df, K, max_iters=1)
    plan = (clustering.assign_centroids(vec_df, cents)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_converged_centroids_are_fixpoint(spark, vec_df):
    """Converged centroids must be a Lloyd fixpoint: one EXPLICIT
    extra assign+update step leaves them unchanged. (Asserting via a
    second full kmeans run with max_iters+1 checks the identical
    property — deterministic seeding replays the same trajectory —
    but costs 25 redundant Spark jobs; suite budget, VERDICT r08
    item 3.)"""
    _, cents = clustering.kmeans(vec_df, K, max_iters=25)
    vecs = vec_df.select("vec_id",
                         F.col("embedding").cast("array<double>").alias("embedding"))
    assigned = clustering.assign_centroids(vecs, cents)
    again = clustering._update_centroids(
        vecs, assigned, K, len(cents[0]), cents)
    assert np.allclose(np.array(cents), np.array(again), atol=1e-7)


def test_k_past_bank_limit_rejected_without_jobs(spark, vec_df, monkeypatch):
    """More than BANK_MAX_K centroids (monkeypatched low) is a
    ValueError naming the limit and the
    train_semdedup_centroids(target_cluster_size=...) way round it,
    raised by kmeans and by IVF assign_centroids before any Spark
    job is submitted."""
    rng = random.Random(5)
    k = 12
    cents = [[round(rng.uniform(-10, 10), 3) for _ in range(DIM)]
             for _ in range(k)]
    vecs = vec_df.select("vec_id",
                         F.col("embedding").cast("array<double>")
                         .alias("embedding"))
    monkeypatch.setattr(clustering, "BANK_MAX_K", 4)
    with job_group(spark, "kmeans-k-limit") as jobs:
        with pytest.raises(ValueError, match=r"BANK_MAX_K=4.*target_cluster_size="):
            clustering.kmeans(vecs, k)
        with pytest.raises(ValueError, match=r"BANK_MAX_K=4.*target_cluster_size="):
            clustering.assign_centroids(vecs, cents, coarse_nprobe=2)
    assert len(jobs) == 0
