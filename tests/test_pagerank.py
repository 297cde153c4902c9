"""PageRank vs an exact Python replica (same dangling-mass
redistribution, same iteration count), plus mass conservation."""

from __future__ import annotations

import pytest

from eth_options_data_pipeline_spark.operators.pagerank import pagerank
from tests.job_groups import job_group

# 0 -> 1,2 ; 1 -> 2 ; 2 -> 0 ; 3 -> 2 ; 4 is dangling (only in-links)
EDGES = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (1, 4)]
ITERS = 12
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
    # node 0 drains node 2's whole rank (2 -> 0 is 2's only
    # out-link); node 3 has no in-links at all
    assert got[0] == max(got.values())
    assert got[3] == min(got.values())


def test_empty_graph(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df, 3).count() == 0


# ---------------------------------------------------------------------------
# Lazy (short-run) path pins — VERDICT r06 item 3. The iters <= 3 path
# is what dx28 exercises; these fence its two load-bearing properties
# (replica-exact values, no eager checkpoint barrier) and the cache
# lifetime contract on both paths.
# ---------------------------------------------------------------------------

LAZY_ITERS = 2      # <= checkpoint_every -> _iterate_lazy


def _persistent_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(e.getKey()): e.getValue() for e in jmap.entrySet().toArray()}


@pytest.mark.parametrize("pin", [True, False])
def test_lazy_path_matches_replica(spark, pin):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r["node"]: r["rank"]
           for r in pagerank(df, LAZY_ITERS, D, pin_caches=pin).collect()}
    want = ref_pagerank(EDGES, LAZY_ITERS, D)
    assert set(got) == set(want)
    for u in want:
        assert got[u] == pytest.approx(want[u], abs=1e-12)


def test_lazy_path_is_one_query_no_checkpoint_barrier(spark):
    """A short run must stay ONE lazy query: construction may only run
    the node-count job(s) (<=5 jobs under AQE and cache warm-up —
    measured: lazy construction runs 2-4 jobs, a checkpointed run at
    the same size runs >100 because every eager checkpoint is its own
    job cascade), and the
    returned plan must contain no localCheckpoint scar (LogicalRDD /
    ExistingRDD scan), which is exactly what made r05's eager variant
    3.6x slower (operators/pagerank.py docstring).

    The edge list comes from a VALUES LocalRelation, not
    createDataFrame (whose parallelized local data is ITSELF a
    LogicalRDD scan) — so any LogicalRDD in the lazy plan can only be
    a checkpoint scar."""
    base = set(_persistent_ids(spark))
    values = ", ".join(f"({s}, {d})" for s, d in EDGES)
    df = spark.sql(
        f"SELECT CAST(src AS LONG) src, CAST(dst AS LONG) dst "
        f"FROM (VALUES {values}) AS t(src, dst)")
    with job_group(spark, "pr-lazy-construct") as jobs:
        result = pagerank(df, LAZY_ITERS, D)
    n_jobs = len(jobs)
    assert n_jobs <= 5, f"short-run construction ran {n_jobs} jobs"
    plan = result._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan
    # and the checkpointed path DOES leave the scar — the assertion
    # above would catch a silent strategy flip either way
    long = pagerank(df, 12, D)
    long_plan = long._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in long_plan or "ExistingRDD" in long_plan
    # release only what THIS test pinned (the long run's final
    # checkpoint + any lazy-path caches), not the session's other state
    for rid, h in _persistent_ids(spark).items():
        if rid not in base:
            h.unpersist(False)


def test_lazy_pin_caches_false_leaves_no_persistent_state(spark):
    base = set(_persistent_ids(spark))
    df = spark.createDataFrame(EDGES, "src long, dst long")
    out = pagerank(df, LAZY_ITERS, D, pin_caches=False)
    out.collect()
    leaked = set(_persistent_ids(spark)) - base
    assert leaked == set(), f"pin_caches=False pinned RDDs {leaked}"


def test_long_run_frees_exactly_the_superseded_checkpoints(spark, monkeypatch):
    """The explicit checkpoint-RDD release must kill ONLY superseded
    checkpoint RDDs — never the loop-invariant caches (ew/deg/
    dang_nodes), whose RDDs first REGISTER during the first
    checkpoint's job. (The original diff-based sweep swept them into
    the kill set at checkpoint 1 and silently un-cached the loop
    invariants for the rest of the run — caught in review by
    instrumenting getPersistentRDDs around each checkpoint.) 12 iters
    at checkpoint_every=3 = 4 checkpoints -> exactly 3 explicit
    unpersists, one per superseded checkpoint."""
    from eth_options_data_pipeline_spark.operators import pagerank as pr

    base = set(_persistent_ids(spark))
    killed = []
    real = pr._persistent_rdd_handles

    class _Spy:
        def __init__(self, rid, h):
            self._rid, self._h = rid, h

        def unpersist(self, blocking):
            killed.append(self._rid)
            self._h.unpersist(blocking)

    monkeypatch.setattr(
        pr, "_persistent_rdd_handles",
        lambda df: {rid: _Spy(rid, h) for rid, h in real(df).items()})
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, ITERS, D).collect()}
    want = ref_pagerank(EDGES, ITERS, D)
    for u in want:
        assert got[u] == pytest.approx(want[u], abs=1e-9)
    assert len(killed) == 3, (
        f"expected exactly the 3 superseded checkpoint RDDs freed, "
        f"got {killed}")
    assert len(set(killed)) == 3
    for rid, h in real(df).items():      # cleanup: release the result ckpt
        if rid not in base:
            h.unpersist(False)


def test_long_run_leaves_only_the_result_checkpoint(spark):
    """Tripwire for the long-path cache boundary: after return +
    collect, the ONLY new persisted RDD is the returned result's own
    final localCheckpoint (it IS the result — freeing it would destroy
    the DataFrame). Intermediate caches AND superseded checkpoint RDDs
    (12 iters / checkpoint_every=3 -> 3 superseded) must all be gone."""
    base = set(_persistent_ids(spark))
    df = spark.createDataFrame(EDGES, "src long, dst long")
    out = pagerank(df, 12, D)
    out.collect()
    new = {rid: h for rid, h in _persistent_ids(spark).items()
           if rid not in base}
    assert len(new) == 1, (
        f"long run left {len(new)} persisted RDDs (want exactly the "
        f"final checkpoint): {sorted(new)}")
    for h in new.values():            # release the result; restore baseline
        h.unpersist(False)
    assert set(_persistent_ids(spark)) - base == set()
