"""Deterministic dataset mixing: exact integer repeats, hash-stable
fractional keeps, expected mixture proportions, shuffle-free plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.mixing import (
    COPY_COL, mix_sources, weight_source,
)
from eth_options_data_pipeline_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return load_table(spark, sf_small, "documents").select("doc_id", "source").cache()


def test_integer_weight_exact(spark, docs):
    n = docs.count()
    out = weight_source(docs, "doc_id", 3.0)
    assert out.count() == 3 * n
    per = out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"),
                                    F.collect_set(COPY_COL).alias("copies"))
    bad = per.where((F.col("c") != 3) |
                    (F.size("copies") != 3)).count()
    assert bad == 0


def test_zero_weight_empty(spark, docs):
    assert weight_source(docs, "doc_id", 0.0).count() == 0


def test_fractional_weight_rate_and_stability(spark, docs):
    n = docs.count()
    a = weight_source(docs, "doc_id", 1.5, seed="s")
    b = weight_source(docs, "doc_id", 1.5, seed="s")
    ka, kb = a.count(), b.count()
    assert ka == kb  # rerun-stable
    assert ka == pytest.approx(1.5 * n, rel=0.1)
    # same rows, not just same count
    assert a.exceptAll(b).count() == 0
    # copy 1 is the hash slice; copy 0 is everyone
    assert a.where(F.col(COPY_COL) == 0).count() == n


def test_mixture_proportions_and_tags(spark, docs):
    n = docs.count()
    mixed = mix_sources(
        {"web": (docs, 2.0), "books": (docs, 0.25)}, "doc_id")
    per = {r["mix_source"]: r["c"] for r in
           mixed.groupBy("mix_source").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert per["web"] == 2 * n
    assert per["books"] == pytest.approx(0.25 * n, rel=0.15)


def test_sources_decorrelated(spark, docs):
    """Two sources with identical ids must make independent fractional
    cuts (derived per-source seeds)."""
    mixed = mix_sources(
        {"a": (docs, 0.5), "b": (docs, 0.5)}, "doc_id")
    kept_a = {r["doc_id"] for r in mixed.where(F.col("mix_source") == "a").collect()}
    kept_b = {r["doc_id"] for r in mixed.where(F.col("mix_source") == "b").collect()}
    overlap = len(kept_a & kept_b) / max(len(kept_a | kept_b), 1)
    assert 0.1 < overlap < 0.6  # ~1/3 expected for independent 50% cuts


def test_no_shuffle(spark, docs):
    plan = (weight_source(docs, "doc_id", 2.5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" not in plan
