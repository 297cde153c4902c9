"""Benchmark-contamination detection vs a brute-force Python reference,
plus plan-shape checks (benchmark side broadcasts; corpus never
cartesian-joins the benchmark)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.contamination import (
    ngram_contamination,
)

BENCH = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "a stitch in time saves nine according to the old proverb of tailors"),
]

DOCS = [
    # verbatim inclusion of benchmark 0 -> heavily contaminated
    (10, "intro words then the quick brown fox jumps over the lazy dog near the river bank and some closing text here"),
    # clean document, no overlap
    (11, "completely unrelated content about spark partitioning and shuffle behavior at large scale for analytics engines"),
    # one shared 8-gram only (min_hits=2 must NOT flag it)
    (12, "a stitch in time saves nine according to nothing else that matters in this unrelated sentence stream"),
    # shares two+ 8-grams with benchmark 1
    (13, "a stitch in time saves nine according to the old proverb of tailors they say repeatedly"),
]


def _grams(text: str, n: int = 8) -> set[str]:
    w = text.lower().split()
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def brute(n: int = 8, min_hits: int = 2):
    bench_all = set()
    bench_sets = {}
    for bid, t in BENCH:
        bench_sets[bid] = _grams(t, n)
        bench_all |= bench_sets[bid]
    out = {}
    for did, t in DOCS:
        g = _grams(t, n)
        per_pair = {bid: len(g & bs) for bid, bs in bench_sets.items()}
        if max(per_pair.values()) >= min_hits:
            worst = max(per_pair, key=lambda b: per_pair[b])
            out[did] = {
                "n_ngrams": len(g),
                "n_contaminated": len(g & bench_all),
                "worst_bench_id": worst,
                "worst_bench_hits": per_pair[worst],
            }
    return out


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    bench = spark.createDataFrame(pd.DataFrame(BENCH, columns=["bench_id", "text"]))
    return docs, bench


def test_matches_brute_force(spark, frames):
    docs, bench = frames
    got = {r["doc_id"]: r for r in ngram_contamination(docs, bench).collect()}
    want = brute()
    assert set(got) == set(want) == {10, 13}
    for did, w in want.items():
        g = got[did]
        assert g["n_ngrams"] == w["n_ngrams"]
        assert g["n_contaminated"] == w["n_contaminated"]
        assert g["worst_bench_id"] == w["worst_bench_id"]
        assert g["worst_bench_hits"] == w["worst_bench_hits"]
        assert g["contamination_rate"] == pytest.approx(
            w["n_contaminated"] / w["n_ngrams"])


def test_single_hit_not_flagged(spark, frames):
    docs, bench = frames
    flagged = {r["doc_id"] for r in ngram_contamination(docs, bench).collect()}
    assert 12 not in flagged  # exactly one shared 8-gram < min_hits
    assert 11 not in flagged


def test_plan_broadcasts_benchmark(spark, frames):
    docs, bench = frames
    plan = ngram_contamination(docs, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_scales_to_documents_table(spark, sf_small):
    """Smoke over the real documents table: benchmark = 3 docs sampled
    from the corpus itself -> those docs must self-flag at rate 1.0."""
    from eth_options_data_pipeline_spark.sources import load_table
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    bench = (docs.where(F.col("doc_id").isin(1, 2, 3))
             .select(F.col("doc_id").alias("bench_id"), "text"))
    out = {r["doc_id"]: r for r in ngram_contamination(docs, bench).collect()}
    for did in (1, 2, 3):
        assert did in out
        assert out[did]["contamination_rate"] == 1.0
        assert out[did]["worst_bench_id"] == did
