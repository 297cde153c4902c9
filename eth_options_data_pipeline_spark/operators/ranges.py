"""Range (interval-containment) join without an equality key.

``q36_theta_self_join`` covers the keyed case — an equality predicate
drives a hash shuffle and the range condition filters inside the
partition. With NO equality predicate (point-in-interval joins:
events x maintenance windows, trades x auction phases), Catalyst has
nothing to hash on and plans BroadcastNestedLoopJoin — O(|points| x
|intervals|) comparisons, the classic scale killer when the interval
side outgrows "tiny".

The production shape used here is bucketization (the same trick
behind Databricks' range-join hints and GeoSpark-style spatial
binning, built from stock operators):

  1. choose a bucket width >= the maximum interval length;
  2. each point maps to ONE bucket: floor(ts / width);
  3. each interval explodes to ceil(len/width) + 1 buckets it
     overlaps (sequence + explode, in-plan);
  4. equi-join on the bucket id — a plain hash join — then apply the
     exact containment predicate.

Every point/interval pair that satisfies the predicate shares the
point's bucket (width >= interval length guarantees the interval
covers any contained point's bucket), so the bucketed join loses
nothing; the exact filter drops false bucket-neighbors. An interval
never lands in more than a handful of buckets, so the join input
grows by a small constant, not a cross product. The caller picks
``bucket`` (same time unit as the data, e.g. seconds); correctness
requires bucket >= max interval length. That check is part of the
plan: an interval longer than the bucket raises ``raise_error`` at the
first action, so building the join submits no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def point_in_interval_join(points: DataFrame, intervals: DataFrame,
                           point_ts: str, start: str, end: str,
                           bucket: int) -> DataFrame:
    """Inner join: every (point, interval) pair with
    ``start <= point_ts <= end`` (inclusive), no key equality needed.

    ``point_ts``/``start``/``end`` are numeric columns in the same
    unit (e.g. epoch seconds); ``bucket`` is the bucket width in that
    unit and must be >= the longest interval. An interval longer than
    that fails the first action with a Spark runtime error naming the
    bucket width: its pairs spanning bucket boundaries would be lost.
    """
    length = F.col(end) - F.col(start)
    first = F.when(
        length > bucket,
        F.raise_error(F.concat(
            F.lit(f"bucket width {bucket} < interval length "),
            length.cast("string"),
            F.lit("; pairs spanning bucket boundaries would be lost"))),
    ).otherwise(F.floor(F.col(start) / bucket))
    p = points.withColumn("_rj_bucket", F.floor(F.col(point_ts) / bucket))
    iv = intervals.withColumn(
        "_rj_bucket",
        F.explode(F.sequence(first, F.floor(F.col(end) / bucket))),
    )
    return (
        p.join(iv, "_rj_bucket")
        .where(F.col(point_ts).between(F.col(start), F.col(end)))
        .drop("_rj_bucket")
    )
