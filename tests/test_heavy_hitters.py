"""Heavy hitters vs exact counting: returned counts are exact, the
top-k equals the exact top-k under the same tie-break, and the
frequency guarantee (every item above total/(capacity+1) survives
pass 1) holds even with a deliberately tiny capacity."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.heavy_hitters import (
    heavy_hitters, partition_candidates)
from eth_options_data_pipeline_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"


def _token_stream(spark):
    docs = load_table(spark, SF_DIR, "documents")
    return docs.select(F.explode(
        F.split(F.lower(F.trim("text")), r"\s+")).alias("w"))


def _exact(spark):
    toks = _token_stream(spark)
    return Counter({r.w: r["count"] for r in
                    toks.groupBy("w").count().collect()})


def test_topk_matches_exact(spark):
    toks = _token_stream(spark)
    exact = _exact(spark)
    got, _ = heavy_hitters(toks, "w", k=15, capacity=500)
    rows = got.collect()
    # exact top-15 under (count desc, word asc)
    want = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    assert [(r.w, r.cnt) for r in rows] == want


def test_counts_are_exact_even_with_tiny_capacity(spark):
    toks = _token_stream(spark)
    exact = _exact(spark)
    got, _ = heavy_hitters(toks, "w", k=10, capacity=5)
    for r in got.collect():
        assert r.cnt == exact[r.w]


def test_guarantee_above_threshold(spark):
    toks = _token_stream(spark)
    exact = _exact(spark)
    total = sum(exact.values())
    capacity = 40
    cands = {r.w for r in
             partition_candidates(toks, "w", capacity).distinct().collect()}
    bar = total / (capacity + 1)
    must_survive = {w for w, c in exact.items() if c > bar}
    assert must_survive, "test corpus should have at least one hot token"
    assert must_survive <= cands
    # and the candidate set is small — the point of the summary pass
    n_parts = toks.rdd.getNumPartitions()
    assert len(cands) <= capacity * n_parts


def test_grouped_candidates_match_per_slice(spark):
    """partition_candidates_by == per-group filter + partition_
    candidates on identical partition contents — the identity that
    lets the sx05 face replay three micro-batches off ONE Arrow pass.
    Counts are made unique per (group, value) so the capacity cut has
    no ties and both kernels truncate identically; single partition so
    the partition contents are pinned."""
    from eth_options_data_pipeline_spark.operators.heavy_hitters import (
        partition_candidates_by,
    )
    rows = [(g, v)
            for g in range(3)
            for v in range(10)
            for _ in range(v + 1 + 10 * ((v + g) % 2))]
    df = spark.createDataFrame(rows, "g int, w bigint").coalesce(1)
    cap = 4
    got = sorted(tuple(r) for r in
                 partition_candidates_by(df, "w", "g", cap).collect())
    want = []
    for g in range(3):
        sliced = partition_candidates(df.where(F.col("g") == g), "w", cap)
        want += [(g, r.w) for r in sliced.collect()]
    assert got == sorted(want)
    # and the per-group output is genuinely truncated by capacity
    assert len(got) == 3 * cap


def test_tracked_set_equals_candidate_union(spark):
    """The sx05 collapse argument itself: replaying batches through
    tracked_batch_counts (counted keys feed the next tracked set)
    tracks EXACTLY the union of per-batch candidate sets."""
    from eth_options_data_pipeline_spark.operators.heavy_hitters import (
        tracked_batch_counts,
    )
    toks = _token_stream(spark).withColumn(
        "b", (F.crc32(F.col("w")) % 3).cast("int"))
    cap = 7
    tracked = spark.createDataFrame([], "w string")
    cand_union: set = set()
    for i in range(3):
        batch = toks.where(F.col("b") == i).select("w")
        counts = tracked_batch_counts(batch, "w", cap, tracked)
        tracked = tracked.unionByName(counts.select("w")).distinct()
        cand_union |= {r.w for r in
                       partition_candidates(batch, "w", cap).collect()}
        assert {r.w for r in tracked.collect()} == cand_union


def test_candidate_kernels_agree_under_boundary_ties(spark):
    """Capacity-cut ties are where the two kernels' INSERTION orders
    differ (per-Arrow-batch value_counts vs first-appearance groupby),
    so without the canonical (count desc, value asc) tie-break the
    per-slice identity silently breaks exactly at the boundary. All
    values tied -> the cut is decided purely by the tie-break."""
    from eth_options_data_pipeline_spark.operators.heavy_hitters import (
        partition_candidates_by,
    )
    rows = [(g, v) for g in range(2) for v in range(12) for _ in range(3)]
    df = spark.createDataFrame(rows, "g int, w bigint").coalesce(1)
    cap = 5
    got = sorted(tuple(r) for r in
                 partition_candidates_by(df, "w", "g", cap).collect())
    want = []
    for g in range(2):
        sliced = partition_candidates(df.where(F.col("g") == g), "w", cap)
        want += [(g, r.w) for r in sliced.collect()]
    assert got == sorted(want)
    # fully tied -> the canonical cut keeps the lowest values
    assert got == [(g, v) for g in range(2) for v in range(cap)]
