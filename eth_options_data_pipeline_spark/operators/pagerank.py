"""PageRank over a link graph — the importance prior web-corpus
curation pipelines use to pick which pages to keep (Common Crawl
publishes harmonic/PageRank-style host ranks exactly for this; the
OpenWebText recipe filters by link popularity). Complements the
content-quality scores (repetition, quality heuristics) with a
graph-structural one.

Spark-first shape: ranks and out-degrees are (node, value) tables;
one iteration = join ranks to the edge list on src, emit
contributions dst <- rank/out_deg, groupBy dst (map-side combinable),
apply damping. Dangling nodes (no out-links) redistribute their mass
uniformly — computed as one tiny aggregate per round, folded into the
damping constant, which keeps the total mass at exactly 1 so ranks
stay comparable across graphs.

Fixed, short iteration count (no convergence job, at most
``MAX_ITERS`` rounds) — PageRank's use here is a ranking prior, and
the ordering stabilizes long before the values do. The whole run is
ONE lazy query; only node-count-bounded state is cached.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Most rounds one lazy query runs: past a handful of self-joins the
# optimizer time goes superlinear, and the one caller (dx28) runs 3.
MAX_ITERS = 3


def pagerank(edges: DataFrame, iters: int, damping: float = 0.85,
             scratch_key: str | None = None) -> DataFrame:
    """(node, rank) for every node in the (src, dst) edge list.

    Ranks sum to 1.0 (dangling mass redistributed uniformly).

    The run stays LAZY: no checkpoints, and the entire run is ONE
    query at the caller's first action, so AQE plans every join from
    runtime stats (broadcasting the node-bounded sides exactly when
    they fit) and ReusedExchange computes each round's shuffles once.
    Measured at sf0.1 (21k nodes, 591k edges, 3 rounds), an eager
    materialize-per-round variant ran 2.5-3.6x slower: each
    checkpoint barrier is its own job cascade and kills cross-round
    exchange reuse. Cached: the node list, the degree table and each
    round's ranks (the rank table feeds two consumers per round;
    caching stops the lineage fork). These caches stay registered
    with the returned plan. A ``scratch_key`` rotates them per
    invocation (operators/scratch.py): the previous invocation's
    blocks are released at the next one, which bounds the
    block-manager footprint and keeps per-invocation timings honest
    (the CacheManager dedupes by canonicalized plan, so otherwise a
    repeat invocation would be served from the last run's blocks).

    More than ``MAX_ITERS`` rounds raise ValueError before any job.
    """
    if iters > MAX_ITERS:
        raise ValueError(
            f"pagerank: iters={iters} exceeds MAX_ITERS={MAX_ITERS}; "
            f"one lazy query runs at most {MAX_ITERS} rounds")
    if scratch_key is not None:
        from eth_options_data_pipeline_spark.operators import scratch
        scratch.rotate(scratch_key)

        def _pin(df: DataFrame) -> DataFrame:
            from eth_options_data_pipeline_spark.operators import scratch
            return scratch.cache(df, scratch_key)
    else:
        def _pin(df: DataFrame) -> DataFrame:
            return df.cache()
    if scratch_key is not None and not edges.is_cached:
        # The per-round rank caches split the run into separate
        # cache-materialization jobs, and exchange reuse does not cross
        # them, so a derived edge list (a distinct over a fact table)
        # would be re-derived once per round (measured r16 on dx28:
        # ~25% of cold runtime). The per-round consumers read one
        # pinned copy, released at the face's next invocation. A caller
        # that already persisted the edge list keeps its own cache.
        edges = _pin(edges)
    nodes = _pin(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        nodes.unpersist(blocking=False)
        return nodes.withColumn("rank", F.lit(0.0))
    deg = _pin(edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")))

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        ranks = _pin(ranks)            # node-count-bounded, deduped
        linked = ranks.join(deg, ranks["node"] == deg["src"], "left")
        # mass sitting on dangling nodes this round — a 1-row lazy
        # aggregate riding the plan via broadcast cross join, so an
        # iteration costs ZERO driver actions; it falls out of the SAME
        # ranks-to-degree left join that feeds the contributions
        dangling = (
            linked.where(F.col("out_deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        contribs = (
            linked.where(F.col("out_deg").isNotNull())
            .select("src", (F.col("rank") / F.col("out_deg")).alias("w"))
            .join(edges, "src")
            .groupBy("dst").agg(F.sum("w").alias("in_mass"))
        )
        ranks = _rank_update(nodes, contribs, dangling, n, damping)
    return ranks


def _rank_update(nodes: DataFrame, contribs: DataFrame,
                 dangling: DataFrame, n: int, damping: float) -> DataFrame:
    """One damped update from the round's contribution aggregate and
    1-row dangling-mass scalar — same float op order as the scalar
    form: (1-d)/n + (d * dang) / n + d * in_mass."""
    base = (F.lit((1.0 - damping) / n)
            + F.lit(damping) * F.col("_dang") / F.lit(float(n)))
    return (
        nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
        .crossJoin(F.broadcast(dangling))
        .select(
            "node",
            (base + F.lit(damping) * F.coalesce("in_mass", F.lit(0.0)))
            .alias("rank"))
    )
