"""Model-based corpus filtering: train a lightweight text classifier
on labeled seed documents, score the whole corpus, keep what clears
a probability threshold.

This is the fastText-classifier filtering step of public LLM-data
pipelines (CCNet's LM filter, the quality classifiers described for
GPT-3/LLaMA-style data work): a cheap linear model over bag-of-hashed-
token features separates "looks like the target distribution" from
the rest. Everything here is stock pyspark.ml so the model trains,
broadcasts, and scores inside the JVM:

    Tokenizer -> HashingTF (2^18 buckets) -> IDF -> LogisticRegression

Scale shape:

* Training runs on the labeled SEED set — small by construction
  (human- or heuristic-labeled), so iterative L-BFGS over it is not a
  corpus-scale cost.
* Scoring is a Pipeline transform: the fitted model (a weight vector
  of 2^18 doubles + IDF vector) ships to executors once via
  broadcast; per-row work is tokenize + hash + sparse dot — no
  shuffle at all, verified by plan assertion in the test.
* The keep-threshold filter composes with Catalyst (it's a plain
  Column predicate on the probability), so downstream projection and
  pushdown still apply.

The probability column is extracted with vector_to_array — the
ml.linalg VectorUDT never reaches the caller's schema.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import HashingTF, IDF, Tokenizer
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def train_quality_classifier(labeled: DataFrame) -> PipelineModel:
    """Fit the tokenize→hash→idf→logreg pipeline on seed docs with a
    binary ``label`` (1.0 = target distribution)."""
    stages = [
        Tokenizer(inputCol="text", outputCol="_words"),
        HashingTF(inputCol="_words", outputCol="_tf",
                  numFeatures=2 ** 18),
        IDF(inputCol="_tf", outputCol="_features"),
        LogisticRegression(featuresCol="_features", labelCol="label",
                           regParam=1e-3, maxIter=100),
    ]
    return Pipeline(stages=stages).fit(
        labeled.withColumn("label", F.col("label").cast("double")))


def score_documents(docs: DataFrame, model: PipelineModel) -> DataFrame:
    """Adds ``quality_prob`` = P(label=1 | text); drops the pipeline's
    intermediate vector columns."""
    scored = model.transform(docs)
    return (
        scored.withColumn("quality_prob",
                          vector_to_array(F.col("probability"))[1])
        .drop("_words", "_tf", "_features", "rawPrediction",
              "probability", "prediction")
    )


# Weight tables at or under this size score IN-ROW (a map literal in
# the plan + one fold over the token array — zero shuffles); larger
# vocabularies take the explode + broadcast-join + grouped-sum shape.
# The bound is a plan-size guard, not a memory one: a create_map
# literal embeds every entry in the expression tree.
_INROW_VOCAB_MAX = 1024


def score_frozen_linear(docs: DataFrame, weights: dict[str, float],
                        bias: float) -> DataFrame:
    """Score documents with a FROZEN linear text classifier — the
    deploy-time half of the train→freeze→score lifecycle (the trained
    model shipped as a weight table, the way a fastText quality
    classifier is distributed with a data pipeline rather than
    retrained per run).

    score = sigmoid(bias + Σ_token weight[token] · count(token, doc))

    over whitespace-lowercase tokens. Everything is JVM-side Column
    arithmetic; no UDF. Two size-decided regimes (r16, guide §2.4):

    * ``len(weights) <= _INROW_VOCAB_MAX``: the weight table rides as
      a map LITERAL and the logit folds per row over the token array —
      no explode, no join, no shuffle at all. The fold's term order
      (document order) differs from the grouped sum's (partition
      order) only below the 6-decimal rounding every consumer applies
      (equality tested at all SFs in tests/test_classifier_filter.py).
    * larger vocabularies: tokens explode map-side, the weight table
      broadcasts, and the only shuffle is the per-doc sum — partial
      aggregation applies because sum is algebraic. Docs with no
      vocabulary hits keep score sigmoid(bias) via the left join back
      to ``docs``.
    """
    if len(weights) <= _INROW_VOCAB_MAX and weights:
        wmap = F.create_map(*[F.lit(x)
                              for t, w in sorted(weights.items())
                              for x in (t, float(w))])
        toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        # outer coalesce: NULL text folds to NULL, but the join regime
        # (explode emits no rows -> left-join miss -> 0.0) and the
        # oracle both score a NULL document sigmoid(bias) — keep the
        # regimes identical on that edge (r16 review)
        z = F.coalesce(
            F.aggregate(toks, F.lit(0.0),
                        lambda acc, w: acc + F.coalesce(wmap[w], F.lit(0.0))),
            F.lit(0.0))
        logit = F.lit(float(bias)) + z
        return docs.select(
            "doc_id",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("quality_prob"))
    spark = docs.sparkSession
    w_df = spark.createDataFrame(
        [(t, float(w)) for t, w in weights.items()], f"token string, _w double")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"))
    z = (
        toks.join(F.broadcast(w_df), "token")
        .groupBy("doc_id").agg(F.sum("_w").alias("_z"))
    )
    logit = F.lit(float(bias)) + F.coalesce(F.col("_z"), F.lit(0.0))
    return (
        docs.select("doc_id").join(z, "doc_id", "left")
        .select("doc_id",
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("quality_prob"))
    )
