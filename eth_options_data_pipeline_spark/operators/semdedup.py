"""SemDeDup — semantic deduplication by cluster-then-prune (Abbas et
al. 2023, "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication"). Extends the exact (dedup.py) and syntactic
(fuzzy MinHash/SimHash) dedup family with embedding-space semantics:
paraphrases and re-renderings that share no n-grams still collide.

Algorithm, re-expressed Spark-first:

1. k-means over the embedding column (operators/clustering.py),
   trained once by ``train_semdedup_centroids`` with
   k ~ n / target_cluster_size, so the quadratic step below stays
   bounded per cluster (the paper runs 50k clusters for 100M docs).
   ``semdedup`` serves against those frozen centroids.
2. Per doc: cosine similarity to its own cluster centroid (no
   shuffle — centroids are literals).
3. Within each cluster, pairs with cosine >= threshold are semantic
   duplicates. A doc is PRUNED iff some same-cluster neighbor within
   the threshold has a strictly smaller (centroid_sim, id) key — i.e.
   per connected duplicate-group the survivor is the doc FARTHEST
   from the centroid, the paper's keep-low-centroid-similarity rule
   (keeps outliers, maximizes retained diversity), with id as the
   deterministic tiebreak.

Scale shape: the only quadratic work is the within-cluster self-join,
shuffled on the cluster id; k controls the blowup exactly like
LSH_BUCKET_CAP bounds band buckets in the MinHash path. Assignment
and centroid-sim are shuffle-free; the prune decision is one
groupBy(id) max over pair rows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import clustering
from eth_options_data_pipeline_spark.operators.vectors import cosine


def train_semdedup_centroids(emb: DataFrame,
                             target_cluster_size: int = 64,
                             coarse_nprobe: int | None = None,
                             max_iters: int = 5, method: str = "expr",
                             ) -> list[list[float]]:
    """The TRAINING half of semdedup (train once, serve many):
    paper-rule k = max(1, ceil(n / target_cluster_size)) (Abbas et al.
    run 50k clusters for 100M docs ~ 2k docs per cluster) from an
    exact count, then the Lloyd loop. A face that freezes its cluster
    index builds the artifact with THIS and serves with
    ``semdedup(emb, centroids)``. The projected vectors are cached for
    the count/seed/update passes and released before return.

    Brute-force assignment is O(n*k) per Lloyd pass, so the paper rule
    makes assignment O(n^2/size) (the r14 sf5 ramp measured exponent
    ~1.4 past sf1); ``coarse_nprobe`` switches every pass to the
    two-level IVF-assisted kernel (O(n * sqrt(k)), see
    clustering.assign_centroids) and keeps the paper-rule k intact."""
    vecs = emb.select(F.col("vec_id"),
                      F.col("embedding").cast("array<double>").alias("embedding"))
    vecs = vecs.cache()
    try:
        n = vecs.count()
        k = max(1, math.ceil(n / target_cluster_size))
        _, cents = clustering.kmeans(
            vecs, k, max_iters=max_iters, method=method,
            coarse_nprobe=coarse_nprobe)
    finally:
        vecs.unpersist(blocking=False)
    return cents


def semdedup(emb: DataFrame, centroids: list[list[float]],
             threshold: float = 0.95, method: str = "expr",
             cluster_cap: int | None = None,
             coarse_nprobe: int | None = None) -> DataFrame:
    """Returns (vec_id, cluster, centroid_sim, keep) for every input
    row, served against TRAINED ``centroids`` (train_semdedup_centroids
    — the cluster index a real pipeline trains once and serves many
    times, the vx07/dx65/dx67 convention). Assignment and the prune
    run fresh from the inputs against the frozen model, exactly as
    dx65 probes its frozen bitset.

    ``keep`` is false iff the row loses to a same-cluster neighbor
    with cosine >= threshold and a smaller (centroid_sim, id) key.

    ``coarse_nprobe`` routes the centroid assignment through the
    two-level IVF-assisted kernel (clustering.assign_centroids):
    O(sqrt(k) * nprobe) distance folds per row instead of O(k). The
    probe is deterministic and oracle-replayable; with nprobe >= the
    anchor count it equals brute force exactly.

    ``cluster_cap`` makes the bounded-quadratic claim a HARD bound,
    not a statistical one: k-means gives no worst-case cluster size
    (a degenerate embedding distribution can put everything in one
    cluster), so clusters larger than the cap are deterministically
    split into ceil(size/cap) sub-groups (row_number within cluster,
    ordered by id) and the pair join runs per sub-group — every join
    group is <= cluster_cap rows, so per-group pair work is <=
    cap*(cap-1)/2 regardless of the data. Same trade as
    LSH_BUCKET_CAP in the MinHash path: pairs straddling sub-groups
    are missed (bounded recall loss on pathological clusters) in
    exchange for a plan that cannot go quadratic. The row_number
    window is a per-cluster external sort — O(c log c), disk-backed,
    the cheap price for capping the c^2 it prevents.

    Two caches stay registered with the returned lazy plan: the
    projected vectors (scoped per face invocation, operators/
    scratch.py) and the per-doc centroid-sim table that feeds both
    pair-join sides and the output.
    """
    from eth_options_data_pipeline_spark.operators import scratch

    # cached: consumed by the assignment and the output join — n x dim
    # doubles, the same order as the result
    vecs = scratch.scoped_cache(
        emb.select(F.col("vec_id"),
                   F.col("embedding").cast("array<double>").alias("embedding")),
        "semdedup.vecs")
    cents = [[float(v) for v in c] for c in centroids]
    assigned = clustering.assign_centroids(
        vecs, cents, method, coarse_nprobe=coarse_nprobe)

    # cosine to own centroid via a broadcast join against the k-row
    # centroid table — ONE cosine fold per row regardless of k. (The
    # previous k-branch literal when-chain paid k*dim interpreted HOF
    # ops per row AND a k*dim-sized expression tree to compile; at the
    # paper-rule k it regressed 2x+ the moment k grew past ~10. The
    # join keeps the identical float op order — same cosine over the
    # same rounded centroid values, exactly the shape the DuckDB
    # oracle uses.)
    cent_df = emb.sparkSession.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(cents)],
        "cluster int, _cent array<double>")
    docs = (
        vecs.join(assigned, "vec_id")
        .join(F.broadcast(cent_df), "cluster")
        .select("vec_id", "embedding", "cluster",
                cosine(F.col("embedding"), F.col("_cent")).alias("centroid_sim"))
    )
    if cluster_cap is not None:
        grp_w = Window.partitionBy("cluster").orderBy("vec_id")
        docs = docs.withColumn(
            "_grp",
            F.floor((F.row_number().over(grp_w) - 1) / cluster_cap)
            .cast("int"))
    else:
        docs = docs.withColumn("_grp", F.lit(0))
    docs = docs.cache()   # reused by both pair-join sides + the output

    join_keys = ["cluster", "_grp"]
    a = docs.select(F.col("vec_id").alias("_a"), *join_keys,
                    F.col("embedding").alias("_va"),
                    F.col("centroid_sim").alias("_sa"))
    b = docs.select(F.col("vec_id").alias("_b"), *join_keys,
                    F.col("embedding").alias("_vb"),
                    F.col("centroid_sim").alias("_sb"))
    # loser of a duplicate pair = the larger (centroid_sim, id) key;
    # emit one row per losing doc, distinct before the anti-join
    losers = (
        a.join(b, join_keys)
        .where(F.struct(F.col("_sa"), F.col("_a"))
               < F.struct(F.col("_sb"), F.col("_b")))
        .where(cosine(F.col("_va"), F.col("_vb")) >= F.lit(threshold))
        .select(F.col("_b").alias("vec_id"))
        .distinct()
    )
    return (
        docs.join(losers.withColumn("_lost", F.lit(True)), "vec_id", "left")
        .select("vec_id", "cluster", "centroid_sim",
                F.col("_lost").isNull().alias("keep"))
    )
