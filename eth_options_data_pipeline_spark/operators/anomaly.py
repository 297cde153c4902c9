"""Rolling z-score anomaly detection over a keyed numeric stream —
the data-quality outlier gate (flag telemetry values that sit far
outside their key's trailing distribution before they poison a
training aggregate).

Exactness technique: the rolling mean/variance come from integer
sums. Values are fixed to cents (``round(value * 100)`` as BIGINT), so
the three frame aggregates — count, sum, sum-of-squares — are exact
integers in ANY accumulation order; the only floats are the final
mean/variance/z expressions, written in the same shape on both
engines and rounded before comparison. This sidesteps the usual
cross-engine ``stddev`` drift (partial-aggregation order) entirely.

Scale shape: one shuffle on the key, one per-key ordered frame (ROWS
BETWEEN k PRECEDING AND 1 PRECEDING — strictly the PAST, so the score
is a true one-sided detector usable in replay and in Structured
Streaming foreachBatch). No global sort, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rolling_zscore(events: DataFrame, lookback: int = 20,
                   min_periods: int = 10) -> DataFrame:
    """Per-row z-score of ``value`` against the ``user_id``'s trailing
    ``lookback`` observations (excluding the current row), ordered by
    (ts, event_id). Rows whose trailing window holds fewer than
    ``min_periods`` points, or whose trailing variance is zero, get a
    NULL z (undefined, not zero). Returns (event_id, user_id, z), z
    rounded to 6 decimals.
    """
    cents = F.round(F.col("value") * 100).cast("long")
    frame = (Window.partitionBy("user_id")
             .orderBy("ts", "event_id")
             .rowsBetween(-lookback, -1))
    cnt = F.count(F.lit(1)).over(frame)
    s1 = F.sum(cents).over(frame)
    s2 = F.sum(cents * cents).over(frame)
    mean = s1 / cnt
    var = s2 / cnt - mean * mean
    sd = F.when(var > 0, F.sqrt(var))
    z = F.when(cnt >= min_periods, (cents - mean) / sd)
    return events.select(
        "event_id", "user_id",
        F.round(z, 6).alias("z"),
    )


def rolling_anomalies(events: DataFrame, threshold: float = 2.5,
                      lookback: int = 20, min_periods: int = 10) -> DataFrame:
    """Rows whose trailing z-score magnitude is >= ``threshold``
    (compared on the rounded z, so the cut is engine-independent)."""
    scored = rolling_zscore(events, lookback, min_periods)
    return scored.where(F.abs(F.col("z")) >= threshold)
