"""Incremental aggregate maintenance: keep a grouped aggregate fresh
by merging ALGEBRAIC PARTIAL STATES instead of recomputing over the
full history — the materialized-view maintenance primitive every
long-running corpus pipeline needs (daily stats over a 100 TB table
must cost one delta-partition scan, not a full-table scan).

The state per (key) is the classic mergeable tuple (count, sum, min,
max); any batch's state merges with any other's by (sum, sum, min,
max), so maintenance is associative/commutative — exactly the
contract of Spark's own partial aggregation, lifted to a persisted
table. Derived measures (avg) are computed only at finalize time from
the merged sums, never merged themselves (avg is NOT algebraic).

Exactness technique: the value is fixed to integer cents before
summing (the dx50 technique), so partial sums are exact in any
accumulation/merge order and a merge-maintained aggregate is
bit-identical to a from-scratch recompute — which is precisely the
invariant the dx53 oracle checks (oracle = single-pass recompute,
Spark side = base-state ⊕ delta-state).

Scale shape: each ``partial_state`` is one map-side-combined groupBy
of its own input slice (the delta scan); ``merge_states`` shuffles
only state rows (one per key per batch), never raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partial_state(df: DataFrame, keys: list[str],
                  value_col: str) -> DataFrame:
    """Per-key mergeable state (cnt, sum, min, max) over this input
    slice, with the value fixed to integer cents so sums are exact in
    any order."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("agg_cnt"),
        F.sum(cents).alias("agg_sum_cents"),
        F.min(cents).alias("agg_min_cents"),
        F.max(cents).alias("agg_max_cents"),
    )


def merge_states(keys: list[str], *states: DataFrame) -> DataFrame:
    """Merge any number of partial-state tables into one: counts and
    sums add, min/max fold. Associative and commutative, so batches
    can arrive (and merge) in any order."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy(*keys).agg(
        F.sum("agg_cnt").alias("agg_cnt"),
        F.sum("agg_sum_cents").alias("agg_sum_cents"),
        F.min("agg_min_cents").alias("agg_min_cents"),
        F.max("agg_max_cents").alias("agg_max_cents"),
    )


def finalize(state: DataFrame, keys: list[str]) -> DataFrame:
    """Turn merged state into the user-facing aggregate row: cnt,
    total, avg (derived here — never merged), min, max, all in
    currency units."""
    return state.select(
        *keys,
        F.col("agg_cnt").alias("cnt"),
        F.round(F.col("agg_sum_cents") / 100.0, 2).alias("total"),
        F.round(F.col("agg_sum_cents") / 100.0 / F.col("agg_cnt"),
                6).alias("avg_value"),
        F.round(F.col("agg_min_cents") / 100.0, 2).alias("min_value"),
        F.round(F.col("agg_max_cents") / 100.0, 2).alias("max_value"),
    )
