"""Behavioral-sequence analytics: windowed funnels and cohort
retention — the ClickHouse `windowFunnel` / `retention` surface,
re-expressed as Spark DataFrame ops (no per-user Python, no UDAF).

windowFunnel semantics: per user, the funnel depth is the largest k
such that events matching steps 1..k occur in timestamp order with
(t_k - t_1) <= window. The per-user DP runs INSIDE one JVM aggregate
expression: events collapse to a sorted array of (ts, step_idx)
pairs, and an unrolled fold carries `state[k] = latest viable chain
start for depth k`. Step types are distinct, so one event advances at
most one depth and the simultaneous (non-in-place) state update is
exact.

Scale shape: one map-side-combinable... no — collect_list is a full
shuffle of (user, matching events), but ONLY events whose type is in
the step set survive the pre-filter, and each carries an 8-byte ts +
1-byte step index. The fold itself is per-row array work. Retention
is purer: conditional aggregation over date-diff buckets, fully
partial-aggregatable, no arrays at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def window_funnel(events: DataFrame, steps: list[str], window_seconds: int) -> DataFrame:
    """(user, depth): deepest funnel step reached within the window.

    Users with no step-1 event report depth 0 only if they emitted
    some OTHER step event; users with no step events at all are
    absent (join against the full user list to densify).
    """
    if len(set(steps)) != len(steps):
        raise ValueError("funnel steps must be distinct event types")
    k = len(steps)
    step_idx = None
    for i, s in enumerate(steps):
        step_idx = (F.when(F.col("event_type") == s, i) if step_idx is None
                    else step_idx.when(F.col("event_type") == s, i))

    hits = (
        events.where(F.col("event_type").isin(steps))
        .select(F.col("user_id"),
                F.struct(
                    F.col("ts").cast("long").alias("t"),
                    step_idx.cast("int").alias("s"),
                ).alias("_hit"))
    )
    per_user = hits.groupBy("user_id").agg(
        F.array_sort(F.collect_list("_hit")).alias("_hits"))

    # state[i] = latest viable chain-start time for depth i+1, or null
    init = F.array(*[F.lit(None).cast("long") for _ in range(k)])

    def advance(acc: Column, e: Column) -> Column:
        slots = []
        for i in range(k):
            if i == 0:
                upd = F.when(e["s"] == 0, F.greatest(
                    F.coalesce(acc[0], F.lit(-(1 << 62))), e["t"]))
            else:
                viable = (e["s"] == i) & acc[i - 1].isNotNull() \
                    & ((e["t"] - acc[i - 1]) <= F.lit(window_seconds))
                upd = F.when(viable, F.greatest(
                    F.coalesce(acc[i], F.lit(-(1 << 62))), acc[i - 1]))
            slots.append(upd.otherwise(acc[i]).alias(f"s{i}"))
        return F.array(*slots)

    final = F.aggregate(F.col("_hits"), init, advance)
    depth = F.aggregate(
        F.transform(final, lambda t: F.when(t.isNotNull(), 1).otherwise(0)),
        F.lit(0), lambda a, x: a + x)
    return per_user.select(F.col("user_id"), depth.alias("depth"))


def retention(events: DataFrame, anchor_type: str, return_type: str,
              period_days: int = 7, n_periods: int = 4) -> DataFrame:
    """Cohort retention: users anchored by their FIRST `anchor_type`
    event; for each later period bucket, how many came back with a
    `return_type` event. One row per cohort date with n_periods
    counts. Pure conditional aggregation — no arrays, no windows."""
    anchors = (
        events.where(F.col("event_type") == anchor_type)
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("cohort_date"))
    )
    returns = (
        events.where(F.col("event_type") == return_type)
        .select(F.col("user_id"), F.to_date("ts").alias("ret_date"))
    )
    joined = anchors.join(returns, "user_id", "left")
    bucket = F.floor(
        F.datediff("ret_date", "cohort_date") / F.lit(period_days))
    per_user = joined.groupBy("user_id", "cohort_date").agg(*[
        F.max(F.when((bucket == p) & (F.col("ret_date") >= F.col("cohort_date")),
                     1).otherwise(0)).alias(f"p{p}")
        for p in range(n_periods)
    ])
    return (
        per_user.groupBy("cohort_date")
        .agg(F.count(F.lit(1)).alias("cohort_size"),
             *[F.sum(f"p{p}").cast("long").alias(f"retained_p{p}")
               for p in range(n_periods)])
        .orderBy("cohort_date")
    )
