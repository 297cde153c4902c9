"""DSIR-style data selection: importance resampling of a raw corpus
toward a target domain, using hashed n-gram features.

Method (public: Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling", NeurIPS): estimate bag-of-hashed-bigram
distributions for the target corpus and the raw corpus, weight each
raw document by its log likelihood ratio

    log w(x) = sum_b  n_b(x) * [ log p_target(b) - log p_raw(b) ]

(n_b(x) = the document's count in hash bucket b, distributions add-1
smoothed over ``buckets`` cells), then sample without replacement
proportionally to w via the Gumbel-top-k trick. All randomness is
md5-derived from (seed, doc id), so selection is deterministic,
rerun-stable, and engine-independent — the repo's standard sampling
convention (operators/sampling.py).

Scale shape:

* The two distribution estimates are word-count-shaped aggregations
  that collapse to ``buckets`` rows each (buckets is a model-size
  parameter, e.g. 10k — bounded, so the smoothed log-ratio table
  broadcasts by construction, unlike the LM tables in lm_quality).
* Per-doc weights: explode bigrams → bucket → pre-aggregate to
  (doc, bucket, n) → broadcast-join the log-ratio → one re-agg per
  doc. No shuffle carries document text.
* Final selection is a TakeOrdered over (gumbel + logw) — fine for
  n up to millions; for larger n route through
  operators/selection.py's distributed prefix-sum instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEP = "\x1f"


def _words(text) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def _bucket(w1: Column, w2: Column, buckets: int) -> Column:
    """md5-derived bigram hash bucket — reproducible in any engine."""
    h = F.conv(F.substring(
        F.md5(F.concat_ws(SEP, w1, w2)), 1, 8), 16, 10).cast("long")
    return (h % buckets).alias("bucket")


def _doc_buckets(docs: DataFrame, id_col: str, text_col: str,
                 buckets: int) -> DataFrame:
    """(id, bucket, n) — per-document hashed-bigram multiplicities."""
    ws = _words(F.col(text_col))
    # guard: sequence(1, 0) infers step -1 and yields [1, 0], and
    # element_at(ws, 0) then errors — single-token docs need the
    # explicit empty branch
    pairs = F.when(
        F.size(ws) >= 2,
        # zip_with over shifted slices: element_at(ws, i) inside a
        # transform lambda re-evaluates ws per element (O(words^2)/row)
        F.zip_with(
            F.slice(ws, F.lit(1), F.size(ws) - 1),
            F.slice(ws, F.lit(2), F.size(ws) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return (
        docs.select(F.col(id_col).alias("id"), F.explode(pairs).alias("bg"))
        .select("id", _bucket(F.col("bg.w1"), F.col("bg.w2"), buckets))
        .groupBy("id", "bucket").agg(F.count(F.lit(1)).alias("n"))
    )


def bucket_distribution(docs: DataFrame,
                        buckets: int = 1024) -> DataFrame:
    """(bucket, c) — corpus-level hashed-bigram counts."""
    ws = _words(F.col("text"))
    # guard: sequence(1, 0) infers step -1 and yields [1, 0], and
    # element_at(ws, 0) then errors — single-token docs need the
    # explicit empty branch
    pairs = F.when(
        F.size(ws) >= 2,
        # zip_with over shifted slices: element_at(ws, i) inside a
        # transform lambda re-evaluates ws per element (O(words^2)/row)
        F.zip_with(
            F.slice(ws, F.lit(1), F.size(ws) - 1),
            F.slice(ws, F.lit(2), F.size(ws) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return (
        docs.select(F.explode(pairs).alias("bg"))
        .select(_bucket(F.col("bg.w1"), F.col("bg.w2"), buckets))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    )


def log_ratio_table(target: DataFrame, raw: DataFrame,
                    buckets: int) -> DataFrame:
    """(bucket, logratio) for every occupied bucket, add-1 smoothed.

    Buckets absent from BOTH corpora contribute log((1/(T+B)) /
    (1/(R+B))) — a constant — but also n_b(x) = 0 for every doc, so
    they never enter a weight and the table can stay sparse.
    """
    t = target.withColumnRenamed("c", "ct")
    r = raw.withColumnRenamed("c", "cr")
    joined = t.join(r, "bucket", "full_outer").fillna(0, ["ct", "cr"])
    # totals via a 1-row cross join keeps this one lazy plan, no action
    totals = (
        target.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("tt"))
        .crossJoin(raw.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("tr"))))
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (F.log((F.col("ct") + 1) / (F.col("tt") + buckets))
             - F.log((F.col("cr") + 1) / (F.col("tr") + buckets))
             ).alias("logratio"))
    )


def importance_weights(raw_docs: DataFrame, ratios: DataFrame,
                       buckets: int,
                       doc_buckets: DataFrame | None = None) -> DataFrame:
    """(id_col, log_weight); documents with no bigrams (or only
    bigrams in buckets unseen by either corpus) get weight 0.
    ``doc_buckets`` lets a caller that already materialized the
    per-doc bucket table (dsir_select) pass it in instead of paying a
    second bigram explode over the raw corpus."""
    db = (doc_buckets if doc_buckets is not None
          else _doc_buckets(raw_docs, "doc_id", "text", buckets))
    w = (
        db.join(F.broadcast(ratios), "bucket")
        .groupBy("id").agg(F.sum(F.col("n") * F.col("logratio"))
                           .alias("log_weight"))
    )
    ids = raw_docs.select(F.col("doc_id").alias("id"))
    return (
        ids.join(w, "id", "left").fillna(0.0, ["log_weight"])
        .select(F.col("id").alias("doc_id"), "log_weight")
    )


def dsir_select(raw_docs: DataFrame, target_docs: DataFrame, n: int,
                buckets: int = 1024, seed: int = 0
                ) -> DataFrame:
    """The ``n`` raw documents chosen by Gumbel-top-k over the DSIR
    log-weights: key = log_weight + Gumbel(md5(seed|id)) — an exact
    draw of n samples without replacement with probability ∝ w(x).
    Returns (id_col, log_weight, key), highest keys first.
    """
    from eth_options_data_pipeline_spark.operators import scratch

    t_dist = bucket_distribution(target_docs, buckets)
    # ONE bigram explode over the raw corpus serves both the corpus
    # distribution and the per-doc weights: the raw distribution is
    # exactly the per-doc table re-aggregated (sum of per-doc counts =
    # total counts, integer-identical), so the former second
    # explode+shuffle pass disappears (r16, guide §2.4). The per-doc
    # table is a rotation-managed cache shared by both consumers.
    db = scratch.scoped_cache(
        _doc_buckets(raw_docs, "doc_id", "text", buckets), "dsir.db")
    r_dist = db.groupBy("bucket").agg(F.sum("n").alias("c"))
    ratios = log_ratio_table(t_dist, r_dist, buckets)
    w = importance_weights(raw_docs, ratios, buckets,
                           doc_buckets=db)
    u = (F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("double") + 0.5) / F.lit(float(2 ** 32))
    gumbel = -F.log(-F.log(u))
    return (
        w.withColumn("key", F.col("log_weight") + gumbel)
        .orderBy(F.col("key").desc())
        .limit(n)
    )
