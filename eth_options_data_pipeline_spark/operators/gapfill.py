"""Time-series regularization: resample irregular observations onto a
fixed calendar grid and fill the gaps (LOCF / linear interpolation).

The reference's cumulative sheet assumes one snapshot row per
(symbol, day); real feeds drop days. A TimescaleDB
``time_bucket_gapfill`` / Pandas ``resample().ffill()`` equivalent is
the missing primitive: produce EVERY (key, bucket) in the range, mark
which are observed, and fill the holes deterministically.

Plan shape (all built-in expressions, zero Python):

1. observations collapse to one row per (key, bucket) with
   ``max_by(value, (ts, tiebreak))`` — last write wins, map-side
   partial aggregation;
2. the grid is |keys| x |buckets|: distinct keys cross-joined with a
   broadcast 1-row bounds aggregate exploded through ``sequence()`` —
   the bounded-fanout way to materialize a calendar without a driver
   loop;
3. grid left-joins observations on (key, bucket) — co-partitioned
   shuffle join;
4. LOCF is ``last(value, ignorenulls=True)`` over the per-key
   running frame; interpolation additionally carries the previous and
   next observed (bucket, value) and lerps between them.

At 100 TB the only large shuffles are on (key, bucket) — the grid is
|keys| x |buckets| rows of three scalars, tiny next to raw events, and
the per-key window never sees more than |buckets| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def daily_last_observation(events: DataFrame) -> DataFrame:
    """One row per (key, day): the value of the latest observation that
    day (ties broken on ``event_id``)."""
    return (
        events.groupBy(F.col("user_id").alias("key"),
                       F.to_date("ts").alias("day"))
        .agg(F.max_by("value",
                      F.struct(F.col("ts"), F.col("event_id")))
             .alias("obs_value"))
    )


def daily_grid(events: DataFrame) -> DataFrame:
    """Every (key, day) between the global min and max observation
    date: distinct keys x broadcast bounds x sequence-explode."""
    bounds = events.agg(F.min(F.to_date("ts")).alias("d0"),
                        F.max(F.to_date("ts")).alias("d1"))
    keys = events.select(F.col("user_id").alias("key")).distinct()
    return (
        keys.crossJoin(F.broadcast(bounds))
        .select("key", F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"))
    )


def gap_fill(events: DataFrame) -> DataFrame:
    """Both fill modes in one pass: (key, day, value_locf,
    value_interp, observed).

    * ``value_locf`` — last observation carried forward; days before a
      key's first observation get ``sentinel`` (never a NULL double —
      NULL doubles hash differently across engines);
    * ``value_interp`` — linear interpolation between the bracketing
      observations, LOCF past the last, ``sentinel`` before the first.

    The backward and forward ignore-nulls windows share one sort of
    the same (key-partitioned) frame, so computing both modes costs no
    extra shuffle over LOCF alone.
    """
    obs = daily_last_observation(events)
    grid = daily_grid(events)
    joined = grid.join(obs, ["key", "day"], "left").withColumn(
        "obs_pt",
        F.when(F.col("obs_value").isNotNull(),
               F.struct(F.datediff("day", F.lit("1970-01-01")).alias("d"),
                        F.col("obs_value").alias("v"))),
    )
    back = (Window.partitionBy("key").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fwd = (Window.partitionBy("key").orderBy("day")
           .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    prev_pt = F.last("obs_pt", ignorenulls=True).over(back)
    next_pt = F.first("obs_pt", ignorenulls=True).over(fwd)
    here = F.datediff("day", F.lit("1970-01-01"))
    lerp = (prev_pt.v + (next_pt.v - prev_pt.v)
            * (here - prev_pt.d) / (next_pt.d - prev_pt.d))
    interp = (
        F.when(F.col("obs_value").isNotNull(), F.col("obs_value"))
        .when(prev_pt.isNull(), F.lit(-1.0))
        .when(next_pt.isNull(), prev_pt.v)          # LOCF after last obs
        .otherwise(lerp)
    )
    return joined.select(
        "key", "day",
        F.round(F.coalesce(prev_pt.v, F.lit(-1.0)),
                6).alias("value_locf"),
        F.round(interp, 6).alias("value_interp"),
        F.when(F.col("obs_value").isNotNull(), F.lit(1))
         .otherwise(F.lit(0)).alias("observed"),
    )
