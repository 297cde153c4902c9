"""Incremental near-dup detection: screen a NEW ingest batch against a
persisted LSH band index of everything already accepted — without ever
re-sketching the history.

A 100 TB corpus is not deduped in one shot; it accretes. The artifact
that makes that cheap is the band index (doc_id, band_key): skinny
(fixed-width digests), append-only, and sufficient for candidate
generation. Per ingest batch:

  1. sketch ONLY the new docs (minhash over word shingles — the same
     md5 pipeline as dx07, so index entries written by any engine
     agree);
  2. candidates = new bands ⋈ history index (bucket join on the band
     digest) plus new-vs-new bands (a batch can self-duplicate);
  3. verify candidates with exact Jaccard — history shingles are
     recomputed ONLY for the candidate doc ids, fetched by an id join
     against the accepted-docs table (candidates are a vanishing
     fraction of history; the join ships ids, not the corpus);
  4. survivors' band entries append to the index for the next batch.

Within-batch ties break toward the smaller doc id (the canonical
keep-first rule), matching what a full-corpus LSH pass over
history ∪ batch would decide — asserted against dx07's machinery in
the tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import text as tx

JACCARD_MIN = 0.5


def _shingled(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tx.word_shingles(F.col(text_col)).alias("sh"))


def _bands(shingled: DataFrame) -> DataFrame:
    mh = tx.minhash_signature(F.col("sh"))
    sig = shingled.select(
        "doc_id", *[c.alias(f"mh{j}") for j, c in enumerate(mh)])
    return sig.select(
        "doc_id",
        F.explode(tx.band_keys(
            [F.col(f"mh{j}") for j in range(tx.MINHASH_K)])).alias("band_key"))


def build_band_index(docs: DataFrame) -> DataFrame:
    """(doc_id, band_key) for every doc — the persisted, append-only
    dedup index. Write it partitioned/bucketed by band_key so batch
    screens co-locate with it."""
    return _bands(_shingled(docs, "doc_id", "text"))


def screen_batch(new_docs: DataFrame, history_docs: DataFrame,
                 history_index: DataFrame) -> DataFrame:
    """Near-dup verdicts for a new batch: one row (doc_id, dup_of,
    score, origin) per flagged new doc. ``origin`` says what condemned
    it: 'history' (matches an accepted doc) or 'batch' (matches a
    smaller-id doc in the same batch). Un-flagged docs don't appear.

    ``history_docs`` is only touched by an id-equality join against
    the candidate list — Spark prunes it to the matched side of a hash
    join; the full history is never re-shingled.
    """
    from eth_options_data_pipeline_spark.operators import scratch
    new_sh = scratch.scoped_cache(
        _shingled(new_docs, "doc_id", "text"), "incremental_dedup.new_sh")
    new_bands = _bands(new_sh)

    hist_cand = (
        new_bands.join(history_index.withColumnRenamed("doc_id", "dup_of"),
                       "band_key")
        .select("doc_id", "dup_of").distinct()
    )
    nb_a = new_bands.alias("a")
    nb_b = new_bands.alias("b")
    batch_cand = (
        nb_a.join(nb_b, (F.col("a.band_key") == F.col("b.band_key"))
                  & (F.col("a.doc_id") > F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_id"),
                F.col("b.doc_id").alias("dup_of"))
        .distinct()
    )
    cand = (hist_cand.withColumn("origin", F.lit("history"))
            .unionByName(batch_cand.withColumn("origin", F.lit("batch"))))

    # shingles for the verify: new side from the cached batch sketch;
    # history side recomputed only for candidate ids
    hist_ids = cand.where(F.col("origin") == "history") \
                   .select(F.col("dup_of")).distinct()
    hist_sh = _shingled(
        history_docs.join(F.broadcast(hist_ids),
                          history_docs["doc_id"] == hist_ids["dup_of"], "left_semi"),
        "doc_id", "text")
    other_sh = (hist_sh.unionByName(new_sh)
                .select(F.col("doc_id").alias("dup_of"), F.col("sh").alias("sh_b")))

    jac = tx.jaccard(F.col("sh_a"), F.col("sh_b"))
    # witness = the strongest match (max Jaccard, ties to the smallest
    # dup_of id) — one deterministic min_by, no rank window
    witness = F.min_by(
        F.struct(F.col("dup_of"), F.col("origin")),
        F.struct((-jac).alias("neg_score"), F.col("dup_of")))
    return (
        F.broadcast(cand)
        .join(new_sh.select(F.col("doc_id"), F.col("sh").alias("sh_a")), "doc_id")
        .join(other_sh.hint("shuffle_hash"), "dup_of")
        .where(jac >= JACCARD_MIN)
        .groupBy("doc_id")
        .agg(witness.alias("_w"), F.max(jac).alias("score"))
        .select("doc_id", F.col("_w.dup_of").alias("dup_of"),
                F.col("_w.origin").alias("origin"), "score")
    )
