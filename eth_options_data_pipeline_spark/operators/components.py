"""Connected components via alternating large-star / small-star —
the O(log n)-round algorithm for scale, complementing dx13's
min-label propagation.

dx13's propagation needs one round per unit of cluster DIAMETER: fine
for dedup graphs (near-dup clusters are dense and shallow), but a
pathological chain of length 1000 needs 1000 joins. The alternating
star operations (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14) contract chains exponentially — O(log n) rounds
on any graph:

  * large-star: for every node u, connect every STRICTLY LARGER
    neighbor v > u to u's current minimum neighbor m(u) (< u or = u);
  * small-star: connect every neighbor v <= u (and u itself) to m(u).

Both steps are a groupBy-min + re-emit of edges — two shuffles per
round on the edge list, no vertex state table, and the edge list only
shrinks (toward the star graph component_min -> node). Convergence:
the edge multiset stops changing; the fixpoint IS the answer mapping.

Every step keeps the invariant "connected things stay connected", and
monotonically decreases the potential function sum(dist-to-root), so
the fixpoint assigns every node its component's minimum id — the same
labeling dx13's oracle computes, asserted in
tests/test_components.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical(edges: DataFrame) -> DataFrame:
    """Direct every edge high->low and drop self-loops/duplicates."""
    u, v = F.col("src"), F.col("dst")
    return (
        edges.select(F.greatest(u, v).alias("src"), F.least(u, v).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star pass over a high->low edge list."""
    # m(u): u's smallest neighbor (already <= every dst by direction)
    mins = edges.groupBy("src").agg(F.min("dst").alias("m"))
    # large-star: every neighbor v of u with v > u links to m(u).
    # With edges directed high->low, "neighbors greater than u" are the
    # reverse direction: for edge (s -> d), s is the larger endpoint,
    # so from d's perspective s > d links to m(d) (or d itself if
    # m(d) doesn't exist — d is a local minimum).
    rev = (
        edges.join(mins.withColumnRenamed("src", "dst"), "dst", "left")
        .select(F.col("src").alias("src"),
                F.coalesce(F.col("m"), F.col("dst")).alias("dst"))
    )
    # small-star: u links its own minimum to every v <= u it touches
    # (keeps the original edges' low endpoints attached to m(u))
    small = (
        edges.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    return _canonical(rev.unionByName(small))


def connected_components(edges: DataFrame) -> DataFrame:
    """(node, component) for every node on an undirected edge list with
    columns (src, dst); component = min node id in the component.

    Each round's edge list is localCheckpointed; a round's checkpoint
    is unpersisted as soon as the NEXT round has materialized past it
    (pagerank's rotation — r16, guide §5: the superseded round RDDs
    used to stay pinned for the session). The FINAL checkpoint IS the
    result and stays persisted — deliberately UNREGISTERED with any
    rotation scheme: an unpersisted localCheckpoint cannot recompute,
    so releasing it would poison any still-held result DataFrame (the
    r16 suite hit exactly that); the ContextCleaner frees it once the
    consumer is garbage collected."""
    from eth_options_data_pipeline_spark.operators import scratch

    cur = _canonical(edges).localCheckpoint(eager=True)
    for _ in range(20):
        # checkpoint LAZILY and let the convergence job materialize
        # it: the symmetric-diff aggregation consumes every nxt
        # partition, so ONE action per round both lands the new edge
        # list and answers "changed?" (the previous eager checkpoint +
        # separate diff job paid two scheduler round-trips per round —
        # measurable pure overhead on the log-round loop). Lazy
        # localCheckpoint still truncates lineage IMMEDIATELY (the
        # plan becomes an ExistingRDD scan), which a cache() would
        # not — uncheckpointed, the per-round plans nest and the
        # driver OOMs generating tree strings on deep chains.
        nxt = _star_round(cur).localCheckpoint(eager=False)
        # convergence = identical distinct edge sets. One symmetric-diff
        # job (edge in exactly one side <=> union-count 1) instead of
        # two exceptAll jobs — halves the per-round convergence cost.
        changed = (
            nxt.unionByName(cur).groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") == 1).limit(1).count()
        )
        # the convergence job materialized nxt, so cur's checkpoint is
        # superseded — free it now instead of leaking it for the
        # session (nxt's blocks no longer need cur's lineage)
        scratch.unpersist_rdd_id(cur.sparkSession, scratch.ckpt_rdd_id(cur))
        cur = nxt
        if changed == 0:
            break
    # fixpoint edges form stars component_min -> member; emit both
    # directions' nodes (roots map to themselves)
    members = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = cur.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return members.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component"))
