"""Distributed heavy hitters: exact counts for the frequent items
without shuffling the full frequency table.

The naive top-k (groupBy(col).count().orderBy(...).limit(k)) shuffles
one row per DISTINCT item — at corpus scale the token vocabulary is
billions of rows of shuffle for a k of a few hundred. The two-pass
summary shape used here (the mergeable-summaries insight of Agarwal
et al. 2012 / Misra-Gries 1982) keeps the shuffle proportional to
``capacity * partitions`` instead:

1. **Summarize**: each partition emits its top ``capacity`` items by
   exact in-partition count (a per-partition value_counts — an Arrow
   batch pass, no shuffle). At most ``capacity`` items in a partition
   can exceed n_p/(capacity+1) occurrences, so the per-partition
   top-``capacity`` contains every item with in-partition frequency
   above that bar; by averaging, any item with GLOBAL frequency
   > n/(capacity+1) beats the bar in at least one partition and
   therefore survives into the candidate set.
2. **Recount**: the candidate union (tiny: <= capacity * partitions)
   is broadcast back as a semi-join filter and only candidate rows
   are counted exactly. Counts in the result are therefore EXACT,
   and the result provably contains every item with true frequency
   > n/(capacity+1) — the returned ``threshold``.

False positives from pass 1 are harmless (they get exact counts and
lose the final top-k); false negatives are impossible above the
threshold. Raise ``capacity`` to lower the guarantee bar.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_candidates(df: DataFrame, col: str,
                         capacity: int) -> DataFrame:
    """Per-partition top-``capacity`` items by exact local count."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        for pdf in batches:
            for v, c in pdf[col].value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
        if counts:
            # canonical (count desc, value asc) tie-break: insertion
            # order depends on Arrow batch boundaries, so a stable
            # count-only sort would truncate DIFFERENT items at the
            # capacity cut across otherwise-identical inputs — and
            # would diverge from partition_candidates_by, whose
            # insertion order differs. The value tie-break makes both
            # kernels a pure function of the partition's multiset.
            # (inlined, not a module-level helper: the closure is
            # cloudpickled by value, and a module-global reference
            # would require the repo on every worker's sys.path)
            top = sorted(counts.items(),
                         key=lambda kv: (-kv[1], kv[0]))[:capacity]
            yield pd.DataFrame({col: [v for v, _ in top]})

    return df.select(col).mapInPandas(
        summarize, schema=df.select(col).schema)


def tracked_batch_counts(batch_df: DataFrame, col: str, capacity: int,
                         prior_tracked: DataFrame) -> DataFrame:
    """One micro-batch's count delta: exact in-batch counts for the
    union of previously-tracked items and this batch's per-partition
    top-``capacity`` candidates. This is the sequential reference for
    sx05's replay, which computes every batch's candidates in one pass
    instead (``partition_candidates_by``); the two agree because the
    tracked set before batch i is exactly the union of candidates from
    batches < i (test_heavy_hitters.py)."""
    cands = partition_candidates(batch_df.select(col), col, capacity)
    tracked = prior_tracked.select(col).unionByName(cands).distinct()
    return (
        batch_df.select(col)
        .join(F.broadcast(tracked), col, "left_semi")
        .groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
    )


def partition_candidates_by(df: DataFrame, col: str, group_col: str,
                            capacity: int) -> DataFrame:
    """Per-(partition, group) top-``capacity`` items — the batched
    variant of ``partition_candidates`` for replaying several
    deterministic slices of one scan in a single Arrow pass.

    Because a narrow ``where(group == g)`` preserves partition
    contents, the rows of partition p for group g here are EXACTLY the
    rows partition p would hold after that filter — so per group this
    emits the same candidate set as ``partition_candidates(
    df.where(group == g), col, capacity)``, while scanning the input
    once instead of once per group (pinned by
    test_heavy_hitters.py::test_grouped_candidates_match_per_slice)."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        for pdf in batches:
            sizes = pdf.groupby([group_col, col], sort=False).size()
            for gv, c in sizes.items():
                counts[gv] = counts.get(gv, 0) + int(c)
        if counts:
            by_g: dict = {}
            for (g, v), c in counts.items():
                by_g.setdefault(g, []).append((v, c))
            rows_g: list = []
            rows_v: list = []
            for g, items in by_g.items():
                # same canonical (count desc, value asc) cut as
                # partition_candidates — the per-slice identity only
                # holds if BOTH kernels break capacity-boundary ties
                # the same way (insertion order differs between them)
                for v, _ in sorted(items,
                                   key=lambda kv: (-kv[1], kv[0]))[:capacity]:
                    rows_g.append(g)
                    rows_v.append(v)
            yield pd.DataFrame({group_col: rows_g, col: rows_v})

    out_schema = df.select(group_col, col).schema
    return df.select(group_col, col).mapInPandas(summarize, schema=out_schema)


def heavy_hitters(df: DataFrame, col: str, k: int = 20,
                  capacity: int = 1000) -> tuple[DataFrame, "F.Column"]:
    """(top-k DataFrame ``(col, cnt)``, guarantee threshold column).

    Counts are exact; any item with true count > total/(capacity+1)
    is guaranteed present before the final limit. The threshold is
    returned as a 1-row aggregate expression the caller can evaluate
    (``df.agg(thr)``) without an extra action here.
    """
    cands = partition_candidates(df, col, capacity).distinct()
    counted = (
        df.join(F.broadcast(cands), col, "left_semi")
        .groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col(col))
        .limit(k)
    )
    threshold = (F.count(F.lit(1)) / (capacity + 1)).alias("threshold")
    return counted, threshold
