"""SemDeDup — semantic deduplication by cluster-then-prune (Abbas et
al. 2023, "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication"). Extends the exact (dedup.py) and syntactic
(fuzzy MinHash/SimHash) dedup family with embedding-space semantics:
paraphrases and re-renderings that share no n-grams still collide.

Algorithm, re-expressed Spark-first:

1. k-means over the embedding column (operators/clustering.py) —
   k ~ n / target_cluster_size, so the quadratic step below stays
   bounded per cluster (the paper runs 50k clusters for 100M docs).
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
                             round_to: int | None = None,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             ) -> list[list[float]]:
    """The TRAINING half of semdedup, as the single source of truth
    for the train-once/serve-many split (r16): paper-rule
    k = max(1, ceil(n / target_cluster_size)) from an exact count,
    then the Lloyd loop. A face that freezes its cluster index builds
    the artifact with THIS and serves with ``semdedup(centroids=...)``
    — the two can never drift apart. The projected vectors are cached
    for the count/seed/update passes and released before return."""
    vecs = emb.select(F.col(id_col),
                      F.col(vec_col).cast("array<double>").alias(vec_col))
    vecs = vecs.cache()
    try:
        n = vecs.count()
        k = max(1, math.ceil(n / target_cluster_size))
        _, cents = clustering.kmeans(
            vecs, k, id_col, vec_col, max_iters=max_iters, method=method,
            round_to=round_to, coarse_nprobe=coarse_nprobe)
    finally:
        vecs.unpersist(blocking=False)
    return cents


def semdedup(emb: DataFrame, k: int | None, threshold: float = 0.95,
             id_col: str = "vec_id", vec_col: str = "embedding",
             max_iters: int = 5, method: str = "expr",
             round_to: int | None = None,
             target_cluster_size: int = 64,
             max_k: int | None = None,
             cluster_cap: int | None = None,
             coarse_nprobe: int | None = None,
             pin_caches: bool = True,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """Returns (id, cluster, centroid_sim, keep) for every input row.

    ``keep`` is false iff the row loses to a same-cluster neighbor
    with cosine >= threshold and a smaller (centroid_sim, id) key.
    ``round_to`` rounds the Lloyd means (see clustering.kmeans) for
    engine-reproducible clustering.

    ``k=None`` derives the paper's rule k = ceil(n / target_cluster_
    size) (Abbas et al. run 50k clusters for 100M docs ~ 2k docs per
    cluster) from an exact count — one count job, and k-means already
    collects k centroids to the driver, so the scale posture is
    unchanged.

    ``coarse_nprobe`` routes every centroid-assignment pass through
    the two-level IVF-assisted kernel (clustering.assign_centroids):
    O(sqrt(k) * nprobe) distance folds per row instead of O(k), which
    is what lets the paper-rule k run at web scale without the
    assignment step going quadratic in n (the r14 ramp finding). The
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

    ``pin_caches`` follows the pagerank.py contract: the two caches
    below (the projected vectors feeding the k-means loop, and the
    per-doc centroid-sim table feeding both pair-join sides) stay
    registered with the returned lazy plan, so repeated calls over
    DISTINCT corpora accumulate pinned blocks for app lifetime (the
    CacheManager dedupes only identical plans, and spilled
    MEMORY_AND_DISK blocks are not reclaimed by memory pressure).
    Callers on that pattern pass ``pin_caches=False`` for a fully
    unpinned plan — the k-means iterations and both join sides then
    re-scan the source instead.
    """
    # cached: consumed by the k derivation count, the k-means loop
    # (seeds scan + one assignment-join + update per iteration), and
    # the output join — n x dim doubles, the same order as the result
    vecs = emb.select(F.col(id_col),
                      F.col(vec_col).cast("array<double>").alias(vec_col))
    if pin_caches:
        from eth_options_data_pipeline_spark.operators import scratch
        vecs = scratch.scoped_cache(vecs, "semdedup.vecs")
    if centroids is not None:
        # serve path (r16): the caller holds a TRAINED centroid set
        # (e.g. a session artifact — the cluster index a real pipeline
        # trains once and serves many times, the vx07/dx65/dx67
        # convention). Skip the Lloyd loop entirely; assignment and
        # the prune run fresh from the inputs against the frozen
        # model, exactly as dx65 probes its frozen bitset.
        k = len(centroids)
        cents = [[float(v) for v in c] for c in centroids]
        assigned = clustering.assign_centroids(
            vecs, cents, id_col, vec_col, method,
            coarse_nprobe=coarse_nprobe)
    elif k is None:
        n = vecs.count()
        k = max(1, math.ceil(n / target_cluster_size))
        # Brute-force assignment is O(n*k) per Lloyd pass, so the
        # paper rule k ~ n/size makes assignment O(n^2/size) — the
        # r14 sf5 ramp measured exactly that (exponent ~1.4 past
        # sf1). Two levers, one per quadratic: ``coarse_nprobe``
        # switches assignment to the two-level IVF-assisted kernel
        # (O(n * sqrt(k)) — the faiss move the paper itself makes,
        # r15; see clustering.assign_centroids), keeping the
        # PAPER-RULE k intact at scale; ``max_k`` remains the blunt
        # interim cap (linear assignment at the cost of coarser
        # clusters past the cap). cluster_cap bounds the pair join
        # (<= n*cap/2 pairs) in either regime.
        if max_k is not None:
            k = min(k, max_k)
    if centroids is None:
        assigned, cents = clustering.kmeans(
            vecs, k, id_col, vec_col, max_iters=max_iters, method=method,
            round_to=round_to, coarse_nprobe=coarse_nprobe)

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
        vecs.join(assigned, id_col)
        .join(F.broadcast(cent_df), "cluster")
        .select(id_col, vec_col, "cluster",
                cosine(F.col(vec_col), F.col("_cent")).alias("centroid_sim"))
    )
    if cluster_cap is not None:
        grp_w = Window.partitionBy("cluster").orderBy(id_col)
        docs = docs.withColumn(
            "_grp",
            F.floor((F.row_number().over(grp_w) - 1) / cluster_cap)
            .cast("int"))
    else:
        docs = docs.withColumn("_grp", F.lit(0))
    if pin_caches:
        docs = docs.cache()   # reused by both pair-join sides + the output

    join_keys = ["cluster", "_grp"]
    a = docs.select(F.col(id_col).alias("_a"), *join_keys,
                    F.col(vec_col).alias("_va"),
                    F.col("centroid_sim").alias("_sa"))
    b = docs.select(F.col(id_col).alias("_b"), *join_keys,
                    F.col(vec_col).alias("_vb"),
                    F.col("centroid_sim").alias("_sb"))
    # loser of a duplicate pair = the larger (centroid_sim, id) key;
    # emit one row per losing doc, distinct before the anti-join
    losers = (
        a.join(b, join_keys)
        .where(F.struct(F.col("_sa"), F.col("_a"))
               < F.struct(F.col("_sb"), F.col("_b")))
        .where(cosine(F.col("_va"), F.col("_vb")) >= F.lit(threshold))
        .select(F.col("_b").alias(id_col))
        .distinct()
    )
    return (
        docs.join(losers.withColumn("_lost", F.lit(True)), id_col, "left")
        .select(id_col, "cluster", "centroid_sim",
                F.col("_lost").isNull().alias("keep"))
    )
