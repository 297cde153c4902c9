"""PageRank vs an exact Python replica (same dangling-mass
redistribution, same iteration count), plus mass conservation."""

from __future__ import annotations

import pytest

from eth_options_data_pipeline_spark.operators.pagerank import MAX_ITERS, pagerank
from tests.job_groups import job_group

# 0 -> 1,2 ; 1 -> 2 ; 2 -> 0 ; 3 -> 2 ; 4 is dangling (only in-links)
EDGES = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (1, 4)]
ITERS = 3
D = 0.85


def ref_pagerank(edges, iters, d):
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    out = {u: [v for s, v in edges if s == u] for u in nodes}
    rank = {u: 1.0 / n for u in nodes}
    for _ in range(iters):
        dangling = sum(rank[u] for u in nodes if not out[u])
        base = (1 - d) / n + d * dangling / n
        nxt = {u: base for u in nodes}
        for u in nodes:
            for v in out[u]:
                nxt[v] += d * rank[u] / len(out[u])
        rank = nxt
    return rank


def test_matches_replica(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, ITERS, D).collect()}
    want = ref_pagerank(EDGES, ITERS, D)
    assert set(got) == set(want)
    for u in want:
        assert got[u] == pytest.approx(want[u], abs=1e-9)


def test_mass_conserved_and_ordering_sane(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, ITERS, D).collect()}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # after 3 rounds node 2 (in-links from 0, 1 and 3) leads; node 0,
    # which drains node 2's whole rank, overtakes it only in later
    # rounds; node 3 has no in-links at all
    assert got[2] == max(got.values())
    assert got[3] == min(got.values())


def test_empty_graph(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df, 3).count() == 0


# ---------------------------------------------------------------------------
# The lazy path is what dx28 exercises; these fence its two
# load-bearing properties (replica-exact values, no eager checkpoint
# barrier) and the round limit.
# ---------------------------------------------------------------------------

LAZY_ITERS = 2


def test_lazy_path_matches_replica(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r["node"]: r["rank"]
           for r in pagerank(df, LAZY_ITERS, D).collect()}
    want = ref_pagerank(EDGES, LAZY_ITERS, D)
    assert set(got) == set(want)
    for u in want:
        assert got[u] == pytest.approx(want[u], abs=1e-12)


def test_lazy_path_is_one_query_no_checkpoint_barrier(spark):
    """A run must stay ONE lazy query: construction may only run
    the node-count job(s) (<=5 jobs under AQE and cache warm-up —
    measured: lazy construction runs 2-4 jobs, a checkpointed run at
    the same size runs >100 because every eager checkpoint is its own
    job cascade), and the returned plan must contain no
    localCheckpoint scar (LogicalRDD / ExistingRDD scan), which is
    exactly what made r05's eager variant 3.6x slower
    (operators/pagerank.py docstring).

    The edge list comes from a VALUES LocalRelation, not
    createDataFrame (whose parallelized local data is ITSELF a
    LogicalRDD scan) — so any LogicalRDD in the lazy plan can only be
    a checkpoint scar."""
    values = ", ".join(f"({s}, {d})" for s, d in EDGES)
    df = spark.sql(
        f"SELECT CAST(src AS LONG) src, CAST(dst AS LONG) dst "
        f"FROM (VALUES {values}) AS t(src, dst)")
    with job_group(spark, "pr-lazy-construct") as jobs:
        result = pagerank(df, LAZY_ITERS, D)
    n_jobs = len(jobs)
    assert n_jobs <= 5, f"construction ran {n_jobs} jobs"
    plan = result._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan


def test_iters_past_limit_rejected_without_jobs(spark):
    """More than MAX_ITERS rounds is a ValueError naming the limit,
    raised before the node-count job."""
    df = spark.createDataFrame(EDGES, "src long, dst long")
    with job_group(spark, "pr-iters-limit") as jobs:
        with pytest.raises(ValueError, match=r"MAX_ITERS=3"):
            pagerank(df, MAX_ITERS + 1, D)
    assert len(jobs) == 0
