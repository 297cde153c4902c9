"""Hypertable-style rollup hierarchy: continuous aggregates maintained
from mergeable partials, never by rescanning raw data.

The reference's cumulative sheet is a flat append log; the timeseries-
native generalization (TimescaleDB continuous aggregates, Druid/Pinot
rollup segments) keeps one partial-aggregate table at the finest grain
and derives every coarser grain FROM THE PARTIALS:

    raw events --(once)--> hourly partials --> daily --> monthly ...

Everything stored is mergeable:

  * count/sum:   re-aggregate with sum()
  * min/max:     re-aggregate with min()/max()
  * avg:         NEVER stored — derived as sum/count at read time
                 (storing avg would make coarsening lossy)
  * distinct:    a Datasketches HLL sketch per bucket
                 (``hll_sketch_agg``), merged upward with
                 ``hll_union_agg``. Unioning per-bucket sketches over
                 a partition of the rows produces the SAME registers
                 as sketching the coarser bucket directly (registers
                 are per-item maxima), so estimates are identical to a
                 direct sketch, not merely close.

At 100 TB this is the difference between an O(raw) rescan per report
grain and an O(|buckets|) merge: a year of hourly partials for one
key is ~9k rows regardless of raw volume. Coarsening shuffles only
the partial table, grouped on (bucket, keys) — the same key layout
every grain up the hierarchy, so AQE coalesces the already-small
exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.streaming.landing import (
    VersionedState, run_available_now,
)

# supported grains, finest-to-coarsest; date_trunc handles all of them
GRAINS = ("hour", "day", "week", "month", "quarter", "year")

# streaming_rollup's state versions: <state_dir>/_partials_v<batch_id>
_PARTIALS_PREFIX = "_partials_v"


def _check_coarser(frm: str, to: str) -> None:
    if frm not in GRAINS or to not in GRAINS:
        raise ValueError(f"grain must be one of {GRAINS}")
    if GRAINS.index(to) <= GRAINS.index(frm):
        raise ValueError(f"target grain {to!r} must be coarser than {frm!r}")


def rollup_partials(events: DataFrame, ts: str, keys: list[str],
                    value: str, distinct_col: str,
                    grain: str = "hour") -> DataFrame:
    """One-time (or per-micro-batch) aggregation of raw rows into the
    finest-grain partial table. Columns: bucket, *keys, cnt, sum_v,
    min_v, max_v, distinct_sketch (HLL binary)."""
    if grain not in GRAINS:
        raise ValueError(f"grain must be one of {GRAINS}")
    return (
        events.groupBy(
            F.date_trunc(grain, F.col(ts)).alias("bucket"), *keys)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(value).alias("sum_v"),
            F.min(value).alias("min_v"),
            F.max(value).alias("max_v"),
            F.hll_sketch_agg(distinct_col).alias("distinct_sketch"),
        )
    )


def coarsen(partials: DataFrame, frm: str, to: str,
            keys: list[str]) -> DataFrame:
    """Merge a partial table one or more grains up the hierarchy —
    touches ONLY the partials, never raw data."""
    _check_coarser(frm, to)
    return (
        partials.groupBy(
            F.date_trunc(to, F.col("bucket")).alias("bucket"), *keys)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.hll_union_agg("distinct_sketch").alias("distinct_sketch"),
        )
    )


def readout(partials: DataFrame) -> DataFrame:
    """Read-time projection of a partial table at any grain: derived
    avg (sum/count, lossless at every grain) and the HLL estimate;
    the sketch column is dropped."""
    return partials.select(
        "bucket",
        *[c for c in partials.columns
          if c not in ("bucket", "cnt", "sum_v", "min_v", "max_v",
                       "distinct_sketch")],
        "cnt", "sum_v", "min_v", "max_v",
        (F.col("sum_v") / F.col("cnt")).alias("avg_v"),
        F.hll_sketch_estimate("distinct_sketch").alias("approx_distinct"),
    )


def _merge_same_grain(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Re-merge partial rows sharing (bucket, keys) — the mergeable-
    partial fold used by incremental refresh (batch and streaming)."""
    return (
        partials.groupBy("bucket", *keys)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.hll_union_agg("distinct_sketch").alias("distinct_sketch"),
        )
    )


def refresh_incremental(partials: DataFrame, new_events: DataFrame,
                        ts: str, keys: list[str], value: str,
                        distinct_col: str, grain: str = "hour") -> DataFrame:
    """Continuous-aggregate maintenance: fold a new batch of raw rows
    into an existing partial table. Only buckets present in the new
    batch change; the merge is the same mergeable-partial coarsen at
    the SAME grain (union then re-merge), so a replayed batch folds
    idempotently when the caller keys writes by batch id (the sink's
    overwrite-by-run-id pattern)."""
    fresh = rollup_partials(new_events, ts, keys, value, distinct_col, grain)
    return _merge_same_grain(partials.unionByName(fresh), keys)


def streaming_rollup(events_stream, state_dir: str, checkpoint_dir: str,
                     ts: str, keys: list[str], value: str,
                     distinct_col: str, grain: str = "hour"):
    """Continuous-aggregate maintenance as a stream: each micro-batch
    folds into a versioned partials table via refresh_incremental —
    the streaming face of the hypertable rollup.

    State is ``_partials_v<batch_id>`` versions under ``state_dir``,
    kept by streaming/landing.VersionedState: a replay rebuilds from
    the previous committed version, and a fresh checkpoint first drops
    any versions a prior run left behind.
    """
    state = VersionedState(state_dir, _PARTIALS_PREFIX)

    def fold(batch_df, batch_id: int):
        fresh = rollup_partials(batch_df, ts, keys, value, distinct_col, grain)
        prev = state.read_before(batch_df.sparkSession, batch_id)
        merged = (fresh if prev is None
                  else _merge_same_grain(prev.unionByName(fresh), keys))
        state.commit(merged, batch_id)

    state.reset_stale(checkpoint_dir)
    return run_available_now(events_stream, fold, checkpoint_dir)


def read_streaming_partials(spark, state_dir: str):
    """Latest committed partial table written by streaming_rollup."""
    latest = VersionedState(state_dir, _PARTIALS_PREFIX).read_latest(spark)
    if latest is None:
        raise FileNotFoundError(f"no committed partials under {state_dir}")
    return latest
