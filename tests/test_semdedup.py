"""SemDeDup vs an exact replica of the keep-farthest-from-centroid
pairwise rule, on planted semantic duplicates. Centroids are trained
first (clustering.kmeans or train_semdedup_centroids) and semdedup
serves against them, the path dx42 runs."""

from __future__ import annotations

import random

import numpy as np

from eth_options_data_pipeline_spark.operators import clustering
from eth_options_data_pipeline_spark.operators.semdedup import (
    semdedup, train_semdedup_centroids,
)
from tests.test_clustering import ref_kmeans

DIM = 8
K = 3
THRESHOLD = 0.999


def make_docs():
    """3 well-separated direction groups; within each, some docs are
    tiny perturbations of a shared base (semantic duplicates) and some
    point elsewhere in the same neighborhood (non-duplicates)."""
    rng = random.Random(11)
    rows = []
    i = 0
    for g in range(K):
        base = [rng.uniform(-1, 1) * 10 for _ in range(DIM)]
        for dup in range(4):          # near-identical copies of base
            rows.append((i, [b * (1 + rng.uniform(-1e-4, 1e-4)) for b in base]))
            i += 1
        for _ in range(4):            # same region, different direction
            rows.append((i, [b + rng.uniform(-3, 3) for b in base]))
            i += 1
    return rows


def ref_semdedup(rows, k, threshold):
    assign, cents = ref_kmeans(rows, k, max_iters=5)

    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    sim = {i: cos(v, cents[assign[i]]) for i, v in rows}
    by_id = dict(rows)
    keep = {}
    for i, _ in rows:
        lost = any(
            assign[j] == assign[i]
            and (sim[j], j) < (sim[i], i)
            and cos(by_id[i], by_id[j]) >= threshold
            for j, _ in rows if j != i)
        keep[i] = not lost
    return keep


def test_semdedup_matches_replica(spark):
    rows = make_docs()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, cents = clustering.kmeans(df, K, max_iters=5)
    out = semdedup(df, cents, threshold=THRESHOLD)
    got = {r["vec_id"]: r["keep"] for r in out.collect()}
    want = ref_semdedup(rows, K, THRESHOLD)
    assert got == want
    # the planted duplicates actually exercised the prune path
    assert sum(1 for v in got.values() if not v) >= K  # >=1 pruned per group
    assert sum(got.values()) >= K * 4                  # non-dups survive


def test_semdedup_on_real_embeddings(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    _, cents = clustering.kmeans(emb, 4, max_iters=2)
    out = semdedup(emb, cents, threshold=0.999)
    rows = out.collect()
    assert len(rows) == emb.count()
    assert all(r["keep"] is not None for r in rows)


def test_semdedup_derives_k_from_target_cluster_size(spark):
    """train_semdedup_centroids applies the paper's rule
    k = ceil(n / target_cluster_size): with 24 docs and target 10,
    3 centroids, and every served row lands in one of them (k-means
    may leave a cluster empty, so assert the ceiling bound)."""
    rows = make_docs()                      # 24 rows
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_semdedup_centroids(df, target_cluster_size=10, max_iters=2)
    assert len(cents) == 3                  # ceil(24/10)
    got = semdedup(df, cents).collect()
    assert len(got) == len(rows)
    assert {r["cluster"] for r in got} <= set(range(3))


def test_semdedup_ivf_assignment_matches_brute_when_probe_covers(spark):
    """coarse_nprobe (r15, the paper-rule-k scale path): with nprobe
    >= the anchor count the two-level kernel IS brute force — the
    whole face output (cluster, centroid_sim, keep) must be
    byte-identical. With a binding nprobe the output stays a valid
    dedup (every row present, clusters in range) and deterministic
    across invocations."""
    rows = make_docs()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(k, nprobe):
        _, cents = clustering.kmeans(df, k, max_iters=2, coarse_nprobe=nprobe)
        return semdedup(df, cents, threshold=0.999,
                        coarse_nprobe=nprobe).collect()

    key = lambda r: r["vec_id"]
    assert sorted(run(3, 99), key=key) == sorted(run(3, None), key=key)
    n1, n1b = run(9, 1), run(9, 1)
    assert sorted(n1, key=key) == sorted(n1b, key=key)
    assert len(n1) == len(rows)
    assert {r["cluster"] for r in n1} <= set(range(9))


def test_semdedup_cluster_cap_bounds_pair_join_groups(spark):
    """The bounded-quadratic claim, pinned on a SKEWED fixture: one
    degenerate blob holds ~90% of the rows, so k-means puts it in one
    cluster and the uncapped pair join would be O(blob^2). With
    cluster_cap, every pair-join group is <= cap rows — asserted by
    replicating the deterministic row_number split — and the planted
    in-group duplicates are still pruned."""
    rng = random.Random(7)
    rows = []
    base = [5.0] * DIM
    for i in range(180):                    # the skew blob: near-dups
        rows.append((i, [b * (1 + rng.uniform(-1e-5, 1e-5)) for b in base]))
    for i in range(180, 200):               # a small far-away cluster
        rows.append((i, [-b + rng.uniform(-1, 1) for b in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cap = 32
    _, cents = clustering.kmeans(df, 2, max_iters=2)
    out = semdedup(df, cents, threshold=0.999, cluster_cap=cap).collect()
    assert len(out) == len(rows)

    # replicate the split rule: per cluster ordered by id, groups of
    # <= cap — every group the pair join sees is hard-bounded
    from collections import Counter, defaultdict
    by_cluster = defaultdict(list)
    for r in sorted(out, key=lambda r: r["vec_id"]):
        by_cluster[r["cluster"]].append(r["vec_id"])
    group_of = {}                           # vec_id -> (cluster, grp)
    group_sizes = Counter()
    for cluster, ids in by_cluster.items():
        for pos, vid in enumerate(ids):
            group_of[vid] = (cluster, pos // cap)
            group_sizes[(cluster, pos // cap)] += 1
    assert max(group_sizes.values()) <= cap
    # the blob landed in ONE cluster (the skew actually happened) ...
    assert max(len(v) for v in by_cluster.values()) >= 150
    # ... and in-group near-duplicates were still pruned: all blob
    # rows in a group are mutual duplicates, so EXACTLY one blob row
    # survives per group that contains blob rows
    blob_groups = {group_of[i] for i in range(180)}
    kept_blob = sum(1 for r in out if r["vec_id"] < 180 and r["keep"])
    assert kept_blob == len(blob_groups)


def test_serve_path_with_frozen_centroids_identical(spark, sf_small):
    """train_semdedup_centroids is the paper-rule k plus the Lloyd loop
    and nothing else: its centroids equal a hand-run kmeans at
    k = ceil(n / target), so serving either gives the same rows."""
    import math

    from eth_options_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding")
    k = max(1, math.ceil(emb.count() / 200))
    _, cents = clustering.kmeans(emb, k, max_iters=1, method="numpy",
                                 coarse_nprobe=2)
    trained = train_semdedup_centroids(
        emb, target_cluster_size=200, coarse_nprobe=2, max_iters=1,
        method="numpy")
    assert trained == cents
    serve = dict(coarse_nprobe=2, cluster_cap=500, threshold=0.6,
                 method="numpy")
    assert sorted(map(tuple, semdedup(emb, trained, **serve).collect())) == \
        sorted(map(tuple, semdedup(emb, cents, **serve).collect()))
