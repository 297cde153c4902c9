"""Intra-document repetition: the quality signals.

Boilerplate-heavy documents (nav bars, cookie banners, SEO spam,
templated listings) repeat the same lines and phrases inside one
document. Training-data pipelines measure this (the Gopher/MassiveText
repetition filters: fraction of duplicate lines, duplicate-line
character fraction, duplicate n-gram fractions) and either drop the
document or collapse the repeats (C4 keeps one copy of any repeated
span).

Everything here is a per-row array expression over the in-row text —
no shuffle, no Python; at 100 TB these are map-side projections on the
corpus scan, composing with dx02's static quality features into one
pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# sentence-ish segments: split after ./!/? runs, or on newlines
DEFAULT_SEG_PATTERN = r"(?<=[.!?])\s+|\n+"


def _segments(text: Column, pattern: str) -> Column:
    return F.filter(F.split(F.trim(text), pattern), lambda s: F.length(s) > 0)


def _char_len(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0), lambda acc, s: acc + F.length(s))


def _word_ngrams(words: Column, n: int) -> Column:
    # zip_with over n shifted slices, NOT element_at inside a
    # transform lambda: a lambda body referencing the outer ``words``
    # re-evaluates that whole expression (the split!) once per
    # element — O(words²) per row — whereas HOF *arguments* are
    # evaluated once per row.
    k = F.size(words)
    m = k - F.lit(n) + 1
    grams = F.slice(words, F.lit(1), m)
    for j in range(1, n):
        grams = F.zip_with(grams, F.slice(words, F.lit(j + 1), m),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(k >= n, grams).otherwise(F.array())


def repetition_stats(docs: DataFrame,
                     seg_pattern: str = DEFAULT_SEG_PATTERN) -> DataFrame:
    """Per-document repetition signals:

    * ``dup_seg_frac`` — fraction of sentence-ish segments that are a
      repeat of an earlier one;
    * ``dup_seg_char_frac`` — same, weighted by characters (the Gopher
      "fraction of characters in duplicate lines" signal: one giant
      repeated block weighs more than a short one);
    * ``max_seg_repeats`` — occurrence count of the most-repeated
      segment;
    * ``dup_2gram_frac`` / ``dup_3gram_frac`` — fraction of word n-gram
      slots occupied by a non-first occurrence (phrase-level looping
      that segment dedup can't see).

    array_distinct keeps FIRST occurrences, so "repeat" = anything it
    removes. All ratios are 0.0 for empty/degenerate docs, never null
    (driver-contract rule: no nullable doubles).
    """
    segs = _segments(F.col("text"), seg_pattern)
    dseg = F.array_distinct(segs)
    n_seg, n_dseg = F.size(segs), F.size(dseg)
    seg_chars, dseg_chars = _char_len(segs), _char_len(dseg)
    # most-repeated segment count: sort, then longest equal-adjacent
    # run in ONE linear fold — O(n log n) per row where the naive
    # per-distinct filter-count is O(n^2) and a single pathological
    # document (e.g. 50k identical lines) would stall its task.
    zero = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).alias("run"), F.lit(0).alias("best"))

    def _run_step(acc: Column, s: Column) -> Column:
        run = F.when(s == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(s.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    max_rep = F.aggregate(F.array_sort(segs), zero, _run_step,
                          lambda acc: acc["best"])

    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")

    def dup_frac(num: Column, den: Column) -> Column:
        return F.when(den == 0, F.lit(0.0)).otherwise(
            (den - num).cast("double") / den)

    g2, g3 = _word_ngrams(words, 2), _word_ngrams(words, 3)
    return docs.select(
        F.col("doc_id"),
        n_seg.alias("n_segments"),
        dup_frac(n_dseg, n_seg).alias("dup_seg_frac"),
        dup_frac(dseg_chars, seg_chars).alias("dup_seg_char_frac"),
        max_rep.alias("max_seg_repeats"),
        dup_frac(F.size(F.array_distinct(g2)), F.size(g2)).alias("dup_2gram_frac"),
        dup_frac(F.size(F.array_distinct(g3)), F.size(g3)).alias("dup_3gram_frac"),
    )
