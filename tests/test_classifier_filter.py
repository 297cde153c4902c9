"""Classifier-based filtering: the trained model separates held-out
documents from two constructed vocabularies (the testdata corpus'
lang labels are independent of its text, so separability has to be
built), scoring is shuffle-free, and the frozen linear scorer the
dx41 face runs matches its training recipe and a manual replica."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.classifier_filter import (
    score_documents, train_quality_classifier)

GOOD = ["theorem", "lemma", "proof", "integral", "matrix", "tensor",
        "gradient", "convex", "bound", "norm"]
BAD = ["click", "subscribe", "winner", "prize", "cheap", "deal",
       "buy", "offer", "free", "casino"]
SHARED = ["the", "a", "of", "and", "to", "in", "is", "for"]


def _doc(rng, vocab):
    words = [rng.choice(vocab if rng.random() < 0.6 else SHARED)
             for _ in range(rng.randint(20, 40))]
    return " ".join(words)


def _dataset():
    rng = random.Random(0)
    rows = []
    for i in range(200):
        label = i % 2
        rows.append((i, _doc(rng, GOOD if label else BAD), float(label)))
    return rows


@pytest.fixture(scope="module")
def model_and_holdout(spark):
    rows = _dataset()
    df = spark.createDataFrame(rows, ["doc_id", "text", "label"])
    seed = df.where(F.col("doc_id") < 120)
    holdout = df.where(F.col("doc_id") >= 120)
    model = train_quality_classifier(seed)
    return model, holdout


def test_separates_heldout_domains(spark, model_and_holdout):
    model, holdout = model_and_holdout
    rows = score_documents(holdout, model) \
        .select("label", "quality_prob").collect()
    pos = [r.quality_prob for r in rows if r.label == 1.0]
    neg = [r.quality_prob for r in rows if r.label == 0.0]
    assert pos and neg
    assert all(0.0 <= p <= 1.0 for p in pos + neg)
    assert sum(pos) / len(pos) > 0.9
    assert sum(neg) / len(neg) < 0.1


def test_scoring_plan_is_shuffle_free(spark, model_and_holdout):
    model, holdout = model_and_holdout
    plan = score_documents(holdout, model) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_frozen_coefficients_provenance(spark, sf_medium):
    """The dx41 face's frozen weight literals are reproducible from the
    documented training recipe (pyspark.ml LogisticRegression on vocab
    counts of the sf0.01 seed slice, label = n_chars >= 300) — the
    training half of the train→freeze→score lifecycle stays verified
    while the deploy half stays DuckDB-oracle-checkable."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from eth_options_data_pipeline_spark.queries.analytics12 import (
        _CLF_BIAS, _CLF_WEIGHTS)

    vocab = list(_CLF_WEIGHTS)
    docs = spark.read.parquet(f"{sf_medium}/documents.parquet")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    feat = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("n_chars") >= 300).cast("double").alias("label"),
        *[F.size(F.filter(toks, lambda w: w == F.lit(v)))
          .cast("double").alias(f"f_{v}") for v in vocab])
    va = VectorAssembler(inputCols=[f"f_{v}" for v in vocab],
                         outputCol="features")
    lr = LogisticRegression(featuresCol="features", labelCol="label",
                            regParam=1e-3, maxIter=100, standardization=False)
    model = lr.fit(va.transform(feat))
    assert abs(float(model.intercept) - _CLF_BIAS) < 1e-4
    for v, c in zip(vocab, model.coefficients):
        assert abs(float(c) - _CLF_WEIGHTS[v]) < 1e-4, v


def test_score_frozen_linear_matches_manual(spark):
    import math

    from eth_options_data_pipeline_spark.operators.classifier_filter import (
        score_frozen_linear)

    weights = {"good": 2.0, "bad": -3.0}
    bias = 0.5
    docs = spark.createDataFrame(
        [(1, "good good bad"), (2, "neutral words only"), (3, "BAD Good")],
        ["doc_id", "text"])
    got = {r.doc_id: r.quality_prob
           for r in score_frozen_linear(docs, weights, bias).collect()}
    expect = {
        1: 1 / (1 + math.exp(-(0.5 + 2 * 2.0 - 3.0))),
        2: 1 / (1 + math.exp(-0.5)),        # no vocab hits -> sigmoid(bias)
        3: 1 / (1 + math.exp(-(0.5 + 2.0 - 3.0))),  # case-folded
    }
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-12, k


def test_inrow_and_join_regimes_agree(spark, sf_small):
    """The r16 in-row fold regime must match the explode+join regime
    to the 6-decimal rounding every consumer applies — at a vocab size
    above and below the regime bound."""
    from eth_options_data_pipeline_spark.operators import classifier_filter as cf
    from eth_options_data_pipeline_spark.queries.analytics12 import (
        _CLF_BIAS, _CLF_WEIGHTS,
    )
    from eth_options_data_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")

    def rounded(df):
        return {r["doc_id"]: r["p"] for r in df.select(
            "doc_id", F.round("quality_prob", 6).alias("p")).collect()}

    # include the NULL-text edge: both regimes must score a NULL
    # document sigmoid(bias) (the join regime's left-join miss; the
    # in-row regime's outer coalesce — r16 review finding)
    docs = docs.unionByName(
        spark.createDataFrame([(10**9, None)], "doc_id long, text string"))
    inrow = rounded(cf.score_frozen_linear(docs, _CLF_WEIGHTS, _CLF_BIAS))
    orig = cf._INROW_VOCAB_MAX
    try:
        cf._INROW_VOCAB_MAX = 0  # force the explode+join regime
        joined = rounded(cf.score_frozen_linear(docs, _CLF_WEIGHTS, _CLF_BIAS))
    finally:
        cf._INROW_VOCAB_MAX = orig
    assert inrow == joined
    assert inrow[10**9] is not None  # the NULL doc scored sigmoid(bias)
    # headroom check: the regimes' equality relies on 6-decimal
    # rounding absorbing summation-order ulps (~1e-15 absolute on the
    # probability); assert every score on this corpus sits further
    # than 1e-11 absolute from a 0.5e-6 rounding boundary — four
    # orders of magnitude of margin over worst-case fold-order drift
    unrounded = [r["quality_prob"] for r in cf.score_frozen_linear(
        docs, _CLF_WEIGHTS, _CLF_BIAS).collect()]
    for p in unrounded:
        frac = abs(p * 1e6 - round(p * 1e6))
        assert abs(frac - 0.5) > 1e-5, p
    # the in-row regime plans with no exchange at all
    plan = cf.score_frozen_linear(docs, _CLF_WEIGHTS, _CLF_BIAS)\
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
