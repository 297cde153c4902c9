"""Exact n-gram span deduplication — the "verbatim shared substring"
detector (Lee et al., *Deduplicating Training Data Makes Language
Models Better*, ACL 2022) re-expressed as a banded Spark plan.

MinHash (operators/text.py) answers "are these documents mostly the
same?"; CDC chunking (operators/fingerprint.py) finds shifted copies
of whole chunks. Neither reports WHERE two documents share verbatim
text nor how long the longest shared run is — the signal
exact-substring training-data dedup cuts on (the paper removes any
50-token span appearing twice in the corpus). The single-node tool is
a suffix array over the concatenated corpus; the Spark-shaped
equivalent is a rolling n-gram inverted index:

1. every document emits one ``(digest, doc_id, pos)`` posting per
   word position — a JVM-side transform/explode, no Python;
2. digests with document frequency outside ``[2, max_df]`` are
   dropped (df=1 cannot pair; df>max_df is boilerplate — the same
   frequency gate a suffix-array postprocess applies);
3. surviving postings self-join on digest → matched position pairs
   ``(pa, pb)`` per document pair;
4. matches on the same diagonal (``pa - pb`` constant) at consecutive
   ``pa`` form an island — a maximal shared run. Gaps-and-islands
   turns per-position matches into per-span facts: the longest run of
   ``r`` consecutive matched n-grams is a verbatim shared substring of
   ``r + n - 1`` words.

Scale shape: only 32-byte digests plus two longs ever shuffle — text
never leaves the scan stage. The frequency gate bounds per-digest
fan-out to ``C(max_df, 2)`` pairs, so no bucket explodes; the island
window partitions by (doc_a, doc_b, diagonal) — millions of tiny
partitions, never a global sort. At 100 TB the posting index is
~tokens x 40 bytes, hash-partitioned on digest; every stage is a
shuffle-on-digest or shuffle-on-pair with map-side partial
aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_N = 5


def ngram_postings(docs: DataFrame, n: int = DEFAULT_N) -> DataFrame:
    """``(g, doc_id, pos)`` posting per word position: md5 digest of
    the n-word gram starting at 1-based ``pos``. Pure JVM expressions
    (split -> sequence -> slice/concat_ws/md5 -> explode)."""
    w = F.split(F.col("text"), " ")
    npos = F.size(w) - F.lit(n - 1)
    # sequence(1, 0) would DESCEND; guard short docs with an empty array
    positions = F.when(npos >= 1, F.sequence(F.lit(1), npos)) \
                 .otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        positions,
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.concat_ws(" ", F.slice(w, i, n))).alias("g"),
        ),
    )
    return (
        docs.where(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(F.col("doc_id").alias("doc_id"), F.explode(grams).alias("t"))
        .select(F.col("t.g").alias("g"), "doc_id",
                F.col("t.pos").cast("long").alias("pos"))
    )


def span_dup_pairs(postings: DataFrame, n: int = DEFAULT_N,
                   min_matched: int = 3, max_df: int = 20) -> DataFrame:
    """Document pairs sharing >= ``min_matched`` matched n-gram
    positions, with island decomposition:

    * ``matched_grams`` — matched (pa, pb) position pairs in total;
    * ``n_islands``     — distinct maximal shared runs;
    * ``longest_run_words`` — longest verbatim shared substring,
      in words (longest island + n - 1).

    The df gate and pair join shuffle digests only; the island window
    is per (pair, diagonal), so partition sizes are bounded by the
    shorter document's length regardless of corpus size.
    """
    kept = (
        postings.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("g")
    )
    occ = postings.join(kept, "g")
    a = occ.select("g", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"))
    b = occ.select("g", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"))
    pairs = a.join(b, "g").where(F.col("doc_a") < F.col("doc_b"))

    win = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    islands = (
        pairs.select("doc_a", "doc_b",
                     (F.col("pa") - F.col("pb")).alias("diag"), "pa")
        .withColumn("island", F.col("pa") - F.row_number().over(win))
    )
    runs = (
        islands.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(F.sum("run").alias("matched_grams"),
             F.count(F.lit(1)).alias("n_islands"),
             (F.max("run") + F.lit(n - 1)).alias("longest_run_words"))
        .where(F.col("matched_grams") >= min_matched)
    )


def dup_spans_per_doc(postings: DataFrame, n: int = DEFAULT_N,
                      min_words: int = DEFAULT_N,
                      max_df: int = 20) -> DataFrame:
    """Per-document duplicated WORD SPANS — the ExactSubstr deletion
    list (Lee et al. 2022: remove every substring of >= k tokens that
    appears twice in the corpus). ``span_dup_pairs`` reports pair
    statistics; this extracts, for each document, the merged word
    intervals ``[s, e]`` (1-based, inclusive) that are verbatim-shared
    (>= ``min_words`` words) with ANY other document — i.e. exactly
    the ranges the published recipe cuts.

    Pipeline: df-gated postings self-join (both directions, so each
    side of a pair gets its spans) -> per-(doc, partner, diagonal)
    islands -> island ``[min(pa), max(pa) + n - 1]`` intervals kept at
    >= ``min_words`` -> distinct intervals per doc -> overlap merge
    via the running-max-of-ends gaps-and-islands (a second window,
    per doc, over at most doc-length interval rows).

    Scale shape matches ``span_dup_pairs``: digest-only shuffles, df
    gate bounds fan-out, and every window partitions by document (the
    merge) or (doc, partner, diagonal) (the islands) — never global.
    """
    min_run = max(min_words - n + 1, 1)
    kept = (
        postings.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("g")
    )
    occ = postings.join(kept, "g")
    a = occ.select("g", "doc_id", F.col("pos").alias("pa"))
    b = occ.select("g", F.col("doc_id").alias("other"),
                   F.col("pos").alias("pb"))
    matches = (a.join(b, "g")
               .where(F.col("doc_id") != F.col("other"))
               .select("doc_id", "other",
                       (F.col("pa") - F.col("pb")).alias("diag"), "pa"))
    win = Window.partitionBy("doc_id", "other", "diag").orderBy("pa")
    islands = matches.withColumn(
        "island", F.col("pa") - F.row_number().over(win))
    intervals = (
        islands.groupBy("doc_id", "other", "diag", "island")
        .agg(F.min("pa").alias("s"),
             (F.max("pa") + F.lit(n - 1)).alias("e"),
             F.count(F.lit(1)).alias("run"))
        .where(F.col("run") >= min_run)
        .select("doc_id", "s", "e")
        .distinct()
    )
    mwin = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        mwin.rowsBetween(Window.unboundedPreceding, -1))
    flagged = intervals.withColumn(
        "newgrp",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1)
         .otherwise(0))
    grouped = flagged.withColumn(
        "gid", F.sum("newgrp").over(
            mwin.rowsBetween(Window.unboundedPreceding, 0)))
    return (grouped.groupBy("doc_id", "gid")
            .agg(F.min("s").alias("s"), F.max("e").alias("e"))
            .select("doc_id", "s", "e"))


def cut_dup_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Apply an ExactSubstr deletion list: remove every word whose
    1-based position falls inside any ``[s, e]`` interval of ``spans``
    (``dup_spans_per_doc`` output) and re-join the survivors — the
    cleaned-text leg the published recipe actually ships (Lee et al.
    2022 cut the flagged byte ranges from the training copy).

    Pure JVM: the per-doc interval list aggregates once (sorted
    struct array, tiny — spans are merged and non-overlapping), joins
    back on the doc id, and the cut is filter/transform/concat_ws over
    the split words — no Python, no extra shuffle beyond the one
    doc-keyed join. Docs with no spans pass through verbatim (left
    join, empty-interval fallback); a fully-covered doc yields ''.

    Output: the ``docs`` columns + ``total_words``, ``removed_words``,
    ``kept_words``, ``clean_text``.
    """
    sp = (spans.groupBy(F.col("doc_id").alias("doc_id"))
          .agg(F.array_sort(F.collect_list(F.struct(
              F.col("s").cast("long").alias("s"),
              F.col("e").cast("long").alias("e")))).alias("_spans")))
    w = F.split(F.col("text"), " ")
    positions = F.when(
        F.size(w) >= 1, F.sequence(F.lit(1).cast("long"),
                                   F.size(w).cast("long"))
    ).otherwise(F.array().cast("array<long>"))
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<s:bigint,e:bigint>>"))
    kept_idx = F.filter(
        positions,
        lambda i: ~F.exists(
            spans_arr, lambda iv: (i >= iv["s"]) & (i <= iv["e"])))
    clean = F.concat_ws(
        " ", F.transform(kept_idx, lambda i: F.element_at(w, i.cast("int"))))
    return (docs.join(sp, "doc_id", "left")
            .withColumn("total_words", F.size(w).cast("long"))
            .withColumn("kept_words", F.size(kept_idx).cast("long"))
            .withColumn("removed_words",
                        (F.col("total_words") - F.col("kept_words"))
                        .cast("long"))
            .withColumn("clean_text", clean)
            .drop("_spans"))
