"""Benchmark contamination detection: word n-gram overlap between a
training corpus and an evaluation/benchmark set.

The standard decontamination step for LLM training data (GPT-3
appendix C / PaLM / Llama all use token- or word-n-gram collision
against eval sets): a training document is contaminated if it shares
enough n-grams with any benchmark example; contaminated documents are
dropped or the spans masked before training.

Scale shape (100 TB corpus, small benchmark): the benchmark side is an
eval suite — thousands of examples, megabytes — so its exploded n-gram
table BROADCASTS. The corpus side explodes to one row per distinct
n-gram per doc, but never shuffles at that width: the broadcast hash
join happens map-side and the per-doc match counts partial-aggregate
(map-side combine) before the only exchange, which carries one small
row per (doc, benchmark-doc) pair actually sharing an n-gram. The
corpus is read once; nothing O(corpus x benchmark) ever materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.text import word_shingles


def ngram_contamination(docs: DataFrame, bench: DataFrame,
                        n: int = 8, min_hits: int = 2) -> DataFrame:
    """Per training doc: how much of it collides with the benchmark set.

    Returns (id_col, n_ngrams, n_contaminated, contamination_rate,
    worst_bench_id, worst_bench_hits) — one row per doc that shares at
    least ``min_hits`` distinct n-grams with some single benchmark
    example. ``contamination_rate`` is the fraction of the doc's
    distinct n-grams found anywhere in the benchmark; ``worst_bench_*``
    identifies the strongest single collision (argmax via max_by, no
    rank window).

    ``n=8`` word-grams with ``min_hits=2`` is a conservative default in
    the published range (GPT-3 used 13-gram collision; shorter grams
    raise recall on paraphrased leaks at some precision cost).
    """
    doc_grams = docs.select(
        F.col("doc_id"),
        F.explode(word_shingles(F.col("text"), n=n)).alias("gram"),
    )
    bench_grams = bench.select(
        F.col("bench_id"),
        F.explode(word_shingles(F.col("text"), n=n)).alias("gram"),
    ).distinct()

    hits = doc_grams.join(F.broadcast(bench_grams), "gram")

    per_pair = hits.groupBy("doc_id", "bench_id").agg(
        F.count(F.lit(1)).alias("pair_hits"))
    per_doc = (
        per_pair.where(F.col("pair_hits") >= min_hits)
        .groupBy("doc_id")
        .agg(
            F.max_by(F.col("bench_id"), F.col("pair_hits")).alias("worst_bench_id"),
            F.max("pair_hits").alias("worst_bench_hits"),
        )
    )
    # distinct contaminated grams per doc (a gram hitting 3 benchmark
    # examples still poisons the doc once)
    doc_contaminated = (
        hits.select("doc_id", "gram").distinct()
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = docs.select(
        F.col("doc_id"),
        F.size(word_shingles(F.col("text"), n=n)).alias("n_ngrams"),
    )
    return (
        per_doc.join(doc_contaminated, "doc_id")
        .join(totals, "doc_id")
        .select(
            "doc_id", "n_ngrams", "n_contaminated",
            (F.col("n_contaminated") / F.col("n_ngrams")).alias("contamination_rate"),
            "worst_bench_id", "worst_bench_hits",
        )
    )
