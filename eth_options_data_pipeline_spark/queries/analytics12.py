"""Round-5 corpus wave: frozen-classifier quality gate and batch
faces for the streaming as-of enrichment and streaming top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import vectors as vx
from eth_options_data_pipeline_spark.queries.registry import query
from eth_options_data_pipeline_spark.sources import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ------------------------------------------- frozen classifier gate

# Coefficients frozen from one offline run of pyspark.ml
# LogisticRegression (regParam=1e-3, maxIter=100, standardization
# off, L-BFGS) on the seed slice doc_id % 3 == 0 of sf0.01 documents,
# label = n_chars >= 300, features = counts of the 12 vocabulary
# tokens below. tests/test_classifier_filter.py retrains with the
# same recipe and asserts these literals still match — the training
# half stays verified while the deploy half stays oracle-checkable.
_CLF_BIAS = -17.687006850400607
_CLF_WEIGHTS = {
    "join": 1.2137620960794329,
    "hash": 0.11516614979330245,
    "row": 1.3195086075268285,
    "batch": 1.0076227945625096,
    "scan": 1.7124027038736456,
    "column": 0.9538776210899284,
    "filter": 0.60423042870472,
    "small": 0.6572957073084933,
    "slow": 0.2511552108701077,
    "merge": -0.5915413625589854,
    "data": 1.645650393616296,
    "fast": 1.0960205409561883,
}

_CLF_VALUES = ", ".join(
    f"('{tok}', {w!r})" for tok, w in _CLF_WEIGHTS.items())

_CLF_SQL = f"""
    WITH w(token, wt) AS (VALUES {_CLF_VALUES}),
    toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    z AS (
      SELECT t.doc_id, sum(w.wt) AS z
      FROM toks t JOIN w ON w.token = t.token GROUP BY 1
    ),
    scored AS (
      SELECT d.doc_id,
             round(1.0 / (1.0 + exp(-({_CLF_BIAS!r} + coalesce(z.z, 0.0)))), 6)
               AS quality_prob
      FROM documents d LEFT JOIN z ON z.doc_id = d.doc_id
    )
    SELECT doc_id, quality_prob FROM scored WHERE quality_prob >= 0.5
"""


@query("dx41_classifier_gate", sql=_CLF_SQL)
def dx41_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate with a FROZEN linear classifier: the
    fastText-style filtering step of public LLM data pipelines at
    deploy time — the trained model ships as a broadcast weight table,
    scoring is sigmoid(bias + Σ w·tf) in pure Column arithmetic, the
    gate keeps docs clearing P >= 0.5 (operators/classifier_filter.py
    score_frozen_linear; the pyspark.ml training twin is
    train_quality_classifier, replica-tested). Only shuffle is the
    per-doc weight sum; the gate is a Catalyst-composable predicate."""
    from eth_options_data_pipeline_spark.operators.classifier_filter import (
        score_frozen_linear,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    scored = score_frozen_linear(docs, _CLF_WEIGHTS, _CLF_BIAS)
    return (
        scored.select("doc_id", F.round("quality_prob", 6).alias("quality_prob"))
        .where(F.col("quality_prob") >= 0.5)
    )


# ------------------------------------- streaming as-of (batch face)

_ASOF_WM_SQL = """
      SELECT max(ts) - INTERVAL 10 MINUTE AS wm
      FROM events WHERE event_type IN ('view', 'signup')
"""

_ASOF_SQL = f"""
    WITH wm AS ({_ASOF_WM_SQL}),
    probe AS (
      SELECT CAST(user_id AS VARCHAR) AS key, ts, value AS probe_val
      FROM events WHERE event_type = 'view'
    ),
    build AS (
      SELECT CAST(user_id AS VARCHAR) AS key, ts, max(value) AS bv
      FROM events WHERE event_type = 'signup' GROUP BY 1, 2
    )
    SELECT p.key, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           p.probe_val, coalesce(b.bv, -1.0) AS asof_val
    FROM probe p ASOF LEFT JOIN build b
      ON p.key = b.key AND b.ts <= p.ts
    WHERE p.ts <= (SELECT wm FROM wm)
"""


@query("sx04_asof_stream", sql=_ASOF_SQL)
def sx04_asof_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment under a watermark: every view paired with the
    user's latest at-or-before signup value, but — unlike the plain
    batch as-of of q45 — keeping only what a watermark-driven
    append-mode stream would have finalized: probe rows whose event
    time the 10-minute watermark (max event time over BOTH tagged
    streams, minus the delay) has passed. Output (key string, ts,
    probe_val, asof_val); the oracle is DuckDB's native ASOF LEFT JOIN
    with the same watermark cutoff. Same union + ordered-window
    single-shuffle shape as q45 (operators/asof.asof_join); the
    watermark scalar joins back as a broadcast, never collected."""
    from eth_options_data_pipeline_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    tagged = ev.where(F.col("event_type").isin("view", "signup"))
    wm = tagged.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("_wm"))
    probe = tagged.where(F.col("event_type") == "view").select(
        F.col("user_id").cast("string").alias("key"), "ts",
        F.col("value").alias("probe_val"))
    build = (
        tagged.where(F.col("event_type") == "signup")
        .groupBy(F.col("user_id").cast("string").alias("key"), "ts")
        .agg(F.max("value").alias("asof_val"))
    )
    joined = asof_join(probe, build, on="key", ts="ts", payload=["asof_val"])
    return (
        joined.crossJoin(F.broadcast(wm))
        .where(F.col("ts") <= F.col("_wm"))
        .select(
            "key", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "probe_val", F.coalesce("asof_val", F.lit(-1.0)).alias("asof_val"))
    )


# ------------------------------------- streaming top-k (batch face)

_TK_K = 15
_TK_CAP = 2000

_TK_SQL = f"""
    SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
           count(*) * {_TK_CAP + 1} > (SELECT count(*) FROM events) AS guaranteed
    FROM events GROUP BY user_id
    ORDER BY cnt DESC, user_id LIMIT {_TK_K}
"""


@query("sx05_topk_stream", sql=_TK_SQL)
def sx05_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over a replayed stream: the event stream replayed
    as three deterministic micro-batches (event_id % 3), each counted
    by the per-batch delta rule of
    ``heavy_hitters.tracked_batch_counts`` (per-partition top-capacity
    candidates → tracked-set semi-join → exact in-batch counts),
    inlined below with all three batches' candidates from one pass;
    deltas summed, top-k by (cnt desc, key). ``guaranteed`` carries the
    Misra-Gries audit bound per row — cnt·(capacity+1) > N implies the item could
    never have been evicted before tracking, so its count is exact;
    the oracle hard-codes the same arithmetic, making a
    capacity-undersized run a visible hash break instead of silent
    divergence (the dx36 lesson).

    The replay loop looks sequential (batch i+1's tracked set depends
    on batch i's counted keys) but is not: counted keys are the batch
    intersected with the tracked set, and candidates come FROM their
    batch, so the tracked set before batch i is exactly the union of
    candidates from batches < i. That identity (pinned by
    test_heavy_hitters.py) collapses r05's three per-batch
    localCheckpoint barriers into ONE: a single Arrow pass computes
    per-(partition, batch) candidates for all three replays
    (partition_candidates_by), that tiny table (<= 3 x capacity x
    partitions rows) is the only checkpoint, and the three tracked-set
    semi-joins + delta groupBys + merge stay one lazy AQE-planned
    query — the same barrier-removal move that took dx28 from 5.5s to
    2.8s."""
    from eth_options_data_pipeline_spark.operators.heavy_hitters import (
        partition_candidates_by,
    )

    ev = t(spark, sf_dir, "events")
    bat = ev.select("user_id", (F.col("event_id") % 3).alias("_b"))
    cands = partition_candidates_by(
        bat, "user_id", "_b", _TK_CAP).localCheckpoint()
    deltas = []
    for i in range(3):
        tracked = (cands.where(F.col("_b") <= i)
                   .select("user_id").distinct())
        counts = (
            bat.where(F.col("_b") == i)
            .join(F.broadcast(tracked), "user_id", "left_semi")
            .groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
        )
        deltas.append(counts)
    merged = (
        deltas[0].unionByName(deltas[1]).unionByName(deltas[2])
        .groupBy("user_id").agg(F.sum("cnt").alias("cnt"))
    )
    total = ev.agg(F.count(F.lit(1)).alias("_n"))
    return (
        merged.crossJoin(F.broadcast(total))
        .select("user_id", "cnt",
                (F.col("cnt") * (_TK_CAP + 1) > F.col("_n")).alias("guaranteed"))
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(_TK_K)
    )


# ------------------------------------------------ SemDeDup face

_SD_TARGET = 200    # paper rule: k = ceil(n / target_cluster_size) —
                    # the paper runs ~2k docs/cluster; 200 keeps k
                    # moderate at face scale (3 at sf0.01, 10 at
                    # sf0.1), which matters because the expr
                    # assignment kernel pays n*k*dim interpreted ops
_SD_CAP = 48        # hard per-join-group bound; avg clusters are
                    # ~170-200 docs at every face scale, so the
                    # row_number sub-split FIRES under the driver hash
_SD_NPROBE = 2      # IVF-assisted assignment (r15, replacing the r14
                    # max_k=128 interim cap): brute-force assignment
                    # is O(n*k), so paper-rule k ~ n/200 made it
                    # quadratic in n (ramp-measured ~1.4 exponent past
                    # sf1). The two-level kernel probes the 2 nearest
                    # of <= ceil(sqrt(k)) anchors — O(n*sqrt(k)) — so
                    # the PAPER-RULE k survives to web scale uncapped
                    # (the paper itself assigns with faiss). At
                    # sf<=0.02 (k<=4, 2 anchors) the probe covers
                    # every anchor, i.e. exactly brute force.
_SD_THRESH = 0.25


def _sq_l2_sql(a: str, b: str) -> str:
    """Squared L2 as the same left-to-right fold the expr kernel of
    clustering.assign_centroids runs (``aggregate(zip_with(...))``)."""
    d = f"list_transform(list_zip({a}, {b}), x -> x[1] - x[2])"
    return f"list_dot_product({d}, {d})"


_SEM_SQL = f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    params AS (
      SELECT k, CAST(ceil(k / CAST(ceil(sqrt(k)) AS DOUBLE)) AS BIGINT) AS step
      FROM (SELECT greatest(CAST(1 AS BIGINT),
                            CAST(ceil(count(*) / {_SD_TARGET}.0) AS BIGINT)) AS k
            FROM emb)
    ),
    seeds AS (
      SELECT vec_id, e,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               - 1 AS cluster
      FROM emb
      QUALIFY cluster < (SELECT k FROM params)
    ),
    anch1 AS (
      SELECT s.cluster // p.step AS slot, s.e AS c
      FROM seeds s, params p WHERE s.cluster % p.step = 0
    ),
    memb1 AS (
      SELECT cluster, slot FROM (
        SELECT s.cluster, a.slot,
               row_number() OVER (PARTITION BY s.cluster
                                  ORDER BY {_sq_l2_sql('s.e', 'a.c')}, a.slot) AS _rk
        FROM seeds s CROSS JOIN anch1 a)
      WHERE _rk = 1
    ),
    prob1 AS (
      SELECT vec_id, slot FROM (
        SELECT v.vec_id, a.slot,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_sq_l2_sql('v.e', 'a.c')}, a.slot) AS _rk
        FROM emb v CROSS JOIN anch1 a)
      WHERE _rk <= {_SD_NPROBE}
    ),
    a1 AS (
      SELECT vec_id, e, cluster FROM (
        SELECT v.vec_id, v.e, s.cluster,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_sq_l2_sql('v.e', 's.e')}, s.cluster) AS _rk
        FROM emb v JOIN prob1 p ON p.vec_id = v.vec_id
                   JOIN memb1 m ON m.slot = p.slot
                   JOIN seeds s ON s.cluster = m.cluster)
      WHERE _rk = 1
    ),
    means AS (
      SELECT cluster, list(m ORDER BY pos) AS c
      FROM (
        SELECT cluster, pos, round(avg(v), 9) AS m
        FROM (SELECT cluster, unnest(e) AS v, generate_subscripts(e, 1) AS pos
              FROM a1)
        GROUP BY cluster, pos)
      GROUP BY cluster
    ),
    refined AS (
      SELECT s.cluster, coalesce(m.c, s.e) AS c
      FROM seeds s LEFT JOIN means m ON m.cluster = s.cluster
    ),
    anch2 AS (
      SELECT r.cluster // p.step AS slot, r.c
      FROM refined r, params p WHERE r.cluster % p.step = 0
    ),
    memb2 AS (
      SELECT cluster, slot FROM (
        SELECT r.cluster, a.slot,
               row_number() OVER (PARTITION BY r.cluster
                                  ORDER BY {_sq_l2_sql('r.c', 'a.c')}, a.slot) AS _rk
        FROM refined r CROSS JOIN anch2 a)
      WHERE _rk = 1
    ),
    prob2 AS (
      SELECT vec_id, slot FROM (
        SELECT v.vec_id, a.slot,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_sq_l2_sql('v.e', 'a.c')}, a.slot) AS _rk
        FROM emb v CROSS JOIN anch2 a)
      WHERE _rk <= {_SD_NPROBE}
    ),
    a2 AS (
      SELECT vec_id, e, cluster FROM (
        SELECT v.vec_id, v.e, s.cluster,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_sq_l2_sql('v.e', 's.c')}, s.cluster) AS _rk
        FROM emb v JOIN prob2 p ON p.vec_id = v.vec_id
                   JOIN memb2 m ON m.slot = p.slot
                   JOIN refined s ON s.cluster = m.cluster)
      WHERE _rk = 1
    ),
    sims AS (
      SELECT a.vec_id, a.e, a.cluster, {vx.cosine_sql('a.e', 'r.c')} AS sim
      FROM a2 a JOIN refined r ON r.cluster = a.cluster
    ),
    grp AS (
      SELECT *,
             CAST(floor((row_number() OVER (PARTITION BY cluster
                                            ORDER BY vec_id) - 1)
                        / {_SD_CAP}) AS INT) AS _grp
      FROM sims
    ),
    losers AS (
      SELECT DISTINCT b.vec_id
      FROM grp a JOIN grp b ON a.cluster = b.cluster AND a._grp = b._grp
      WHERE (a.sim, a.vec_id) < (b.sim, b.vec_id)
        AND {vx.cosine_sql('a.e', 'b.e')} >= {_SD_THRESH}
    )
    SELECT s.vec_id, s.cluster, round(s.sim, 6) AS centroid_sim,
           s.vec_id NOT IN (SELECT vec_id FROM losers) AS keep
    FROM sims s
"""


@query("dx42_semdedup", sql=_SEM_SQL)
def dx42_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end-to-end with a hash-checked
    oracle: md5-seeded k-means (one Lloyd refinement, means rounded to
    9 decimals on BOTH engines — the vx04 technique that makes the one
    accumulation-order-sensitive float op reproducible), per-doc
    cosine to its own centroid, within-cluster prune keeping the doc
    FARTHEST from the centroid per duplicate group
    (operators/semdedup.py over operators/clustering.py). k follows
    the paper rule k = ceil(n / target_cluster_size)
    (train_semdedup_centroids) UNCAPPED — assignment runs the two-level IVF-assisted kernel
    (``coarse_nprobe``, r15, replacing the r14 max_k interim cap):
    probe the 2 nearest of <= ceil(sqrt(k)) index-strided anchor
    centroids, argmin over their members only — O(n*sqrt(k)) instead
    of the brute O(n*k) that made paper-rule assignment quadratic in
    n (the r14 ramp finding; the paper itself assigns with faiss).
    ``cluster_cap`` makes the within-cluster quadratic step a HARD
    bound — clusters above the cap are split deterministically by
    row_number(vec_id) and the pair join runs per sub-group.

    Assignment runs the NUMPY kernel (the face's one deliberate Arrow
    stage, joining packing/heavy-hitters in the audited set): the
    dim-by-dim panel fold (clustering._fold_dists_np) reproduces the
    expr kernel's IEEE op order exactly, so distances — and every
    assignment, ties included — are bit-identical to the JVM fold the
    oracle replays; it just runs them as vectorized C instead of
    interpreted HOFs (the expr form ramp-measured exponent 0.81 at
    paper-rule k purely on HOF allocation cost; the paper assigns
    with faiss for the same reason). The oracle replays the identical
    seed order, anchor striding (cluster % step = 0), member/probe
    ranks, assignment folds, derived k, sub-group split, and
    (sim, id) loser rule."""
    from eth_options_data_pipeline_spark.operators.artifacts import (
        session_artifact,
    )
    from eth_options_data_pipeline_spark.operators.semdedup import (
        semdedup, train_semdedup_centroids,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # Train-once/serve-many (r16): the k-means cluster index over a
    # fixed corpus is a deterministic ARTIFACT (the faiss-index-file of
    # this face), frozen per (session, sf_dir) like vx07's centroids,
    # dx65's bitset, and dx67's vocabulary. First invocation pays the
    # paper-rule training (count + seed draw + one Lloyd refinement);
    # later invocations load <= k rows and recompute the ASSIGNMENT,
    # cosine, and prune fresh from the parquet inputs — the serve path.
    # Values are identical either way: the trained means are rounded to
    # 9 decimals before freezing, and parquet round-trips doubles
    # exactly.
    def _build():
        cents = train_semdedup_centroids(
            emb, target_cluster_size=_SD_TARGET, coarse_nprobe=_SD_NPROBE,
            max_iters=1, method="numpy")
        return spark.createDataFrame(
            [(i, [float(v) for v in c]) for i, c in enumerate(cents)],
            "cluster int, cvec array<double>")

    cent_rows = session_artifact(
        spark, "semdedup", sf_dir, "centroids", _build).collect()
    cents = [list(r["cvec"])
             for r in sorted(cent_rows, key=lambda r: r["cluster"])]
    out = semdedup(emb, cents, coarse_nprobe=_SD_NPROBE, cluster_cap=_SD_CAP,
                   threshold=_SD_THRESH, method="numpy")
    return out.select("vec_id", "cluster",
                      F.round("centroid_sim", 6).alias("centroid_sim"), "keep")
