"""Language-model quality scoring: train a bigram LM on the corpus,
score each document by perplexity under it.

CCNet (Wenzek et al. 2020) ranks web documents by the perplexity a
reference LM assigns them and keeps the fluent head; the reference
repo has no LM path, so this is a beyond-§2 training-data operator.
The smoothing scheme is Stupid Backoff (Brants et al. 2007, "Large
Language Models in Machine Translation"), chosen BECAUSE it was
designed for MapReduce-scale distributed counting: the score

    S(w2 | w1) = count(w1 w2) / count(w1)          if count(w1 w2) > 0
               = alpha * count(w2) / N             otherwise

needs only count tables — no held-out normalization pass, no
iterative EM — so "training" is two groupBy-counts and scoring is
joins against them.

Scale shape (the part that must survive 100 TB):

* Training shuffles (token, 1) pairs with map-side partial counts —
  the classic word-count shape; output is the model, a pair of count
  tables partitioned by token/bigram hash.
* Scoring pre-aggregates each document's bigrams to (doc, bigram, n)
  BEFORE the model join, so join cardinality is distinct-bigrams-
  per-doc, and joins the bigram table on its natural key — a plain
  hash join both sides; the model is NEVER broadcast or collected
  (a web-scale bigram table is far bigger than executor memory).
  Misses backfill through a second join on the unigram table.
* Per-doc perplexity is then one ungrouped re-aggregation keyed by
  doc id. Three shuffles total, each on a high-cardinality key.

Out-of-vocabulary w2 (unseen even as a unigram) gets a fixed floor
probability ``oov_floor`` so perplexity stays finite — the standard
open-vocabulary convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ALPHA = 0.4          # Brants et al.'s backoff discount
OOV_FLOOR = 1e-7     # probability assigned to unseen unigrams
BOS = "\x02"         # sentence-start token so the first word is scored


def _words(text) -> "F.Column":
    # same tokenization as operators.text: lowercase, whitespace split
    return F.split(F.lower(F.trim(text)), r"\s+")


def _adjacent_pairs(ws: "F.Column") -> "F.Column":
    """(w_i, w_{i+1}) structs via zip_with over shifted slices — an
    element_at(ws, i) lambda re-evaluates the whole ``ws`` expression
    per element (O(words²) per row); HOF arguments evaluate once."""
    m = F.size(ws) - 1
    return F.zip_with(F.slice(ws, F.lit(1), m), F.slice(ws, F.lit(2), m),
                      lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))


def _doc_bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2, n) — per-document bigram multiplicities.

    BOS is prepended so a k-word document yields exactly k bigrams and
    every word is scored once, matching perplexity over k events.
    """
    ws = F.concat(F.array(F.lit(BOS)), _words(F.col(text_col)))
    pairs = _adjacent_pairs(ws)
    return (
        docs.select(F.col(id_col).alias("id"), F.explode(pairs).alias("bg"))
        .select("id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("id", "w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    )


def train_bigram_lm(docs: DataFrame
                    ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Count tables for Stupid Backoff: (bigrams, unigrams, totals).

    ``bigrams`` is (w1, w2, c_bg, c_w1) with the conditional's
    denominator already joined in; ``unigrams`` is (w2, c_uni);
    ``totals`` is a LAZY 1-row (n_total) table holding the corpus
    token count N. Nothing here runs a job — training used to pay an
    eager count() (a full tokenize pass of the corpus at construction
    time); N is now derived from the unigram table inside the same
    query, so the scoring plan reuses the unigram aggregation's
    exchange for it and the corpus is tokenized exactly twice
    (unigrams + bigrams), not three times.
    """
    ws = F.concat(F.array(F.lit(BOS)), _words(F.col("text")))
    tokens = docs.select(F.explode(ws).alias("w"))
    unigrams = tokens.groupBy("w").agg(F.count(F.lit(1)).alias("c_uni"))

    pairs = _adjacent_pairs(ws)
    bigrams = (
        docs.select(F.explode(pairs).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    )
    # denominator for the conditional: count(w1) including BOS slots
    w1_counts = (
        bigrams.groupBy("w1").agg(F.sum("c_bg").alias("c_w1")))
    bigrams = bigrams.join(w1_counts, "w1")

    totals = unigrams.agg(
        F.coalesce(F.sum(F.when(F.col("w") != BOS, F.col("c_uni"))),
                   F.lit(0).cast("long")).alias("n_total"))
    return bigrams, unigrams.withColumnRenamed("w", "w2"), totals


# Names the training slice in the frozen LM's artifact path: the
# canonical ``doc_id % 3 != 0`` slice both consumers (dx35, cx03) train on.
SLICE_KEY = "mod3"


def frozen_bigram_lm(spark: SparkSession, sf_dir: str, train: DataFrame,
                     ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``train_bigram_lm`` landed once per (session, sf_dir,
    ``SLICE_KEY``) — the train-once/serve-many artifact split
    (vx04/vx06/vx07/dx65 convention): a quality LM is trained once and
    scores many corpora, so repeat invocations (and SIBLING faces
    training on the same slice — dx35 and cx03 share this family) pay
    three parquet lookups, not two tokenize passes. Counts are BIGINT,
    so the parquet round-trip is exact and downstream log arithmetic
    sees identical inputs.

    The cache is keyed by ``SLICE_KEY``, NOT by the ``train``
    DataFrame (hashing a plan is neither cheap nor stable). Training
    on anything other than the canonical ``doc_id % 3 != 0`` slice
    needs a distinct key, or it would be served the first caller's
    model (ADVICE r12)."""
    from eth_options_data_pipeline_spark.operators.artifacts import (
        session_artifact,
    )

    bigrams, unigrams, totals = train_bigram_lm(train)
    bg = session_artifact(spark, "lm_quality", sf_dir,
                          f"bigrams_{SLICE_KEY}", lambda: bigrams)
    uni = session_artifact(spark, "lm_quality", sf_dir,
                           f"unigrams_{SLICE_KEY}", lambda: unigrams)
    tot = session_artifact(spark, "lm_quality", sf_dir,
                           f"totals_{SLICE_KEY}", lambda: totals)
    return bg, uni, tot


def score_perplexity(docs: DataFrame, bigrams: DataFrame,
                     unigrams: DataFrame, total: int | DataFrame) -> DataFrame:
    """(id_col, n_tokens, log_ppl) — average negative log2 probability
    per token under Stupid Backoff; lower = more fluent. Documents
    with no tokens are dropped (nothing to score).

    ``total`` is either the lazy 1-row (n_total) table
    train_bigram_lm returns (joined in as a broadcast — keeps the
    whole score a single query) or a plain int for callers that
    already hold the scalar. Identical arithmetic either way: the
    unigram back-off divides the same double.
    """
    db = _doc_bigrams(docs, "doc_id", "text")
    if isinstance(total, DataFrame):
        db = db.crossJoin(F.broadcast(total))
        n_total = F.col("n_total").cast("double")
    else:
        n_total = F.lit(float(total))
    scored = (
        db
        .join(bigrams, ["w1", "w2"], "left")
        .join(unigrams, ["w2"], "left")
        .withColumn(
            "p",
            F.when(F.col("c_bg").isNotNull(),
                   F.col("c_bg") / F.col("c_w1"))
            .when(F.col("c_uni").isNotNull(),
                  F.lit(ALPHA) * F.col("c_uni") / n_total)
            .otherwise(F.lit(OOV_FLOOR)))
    )
    return (
        scored.groupBy("id")
        .agg(F.sum("n").alias("n_tokens"),
             (-F.sum(F.col("n") * F.log2("p")) / F.sum("n")).alias("log_ppl"))
        .select(F.col("id").alias("doc_id"), "n_tokens", "log_ppl")
    )
