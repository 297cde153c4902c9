"""Streaming mode (SURVEY §2.10): the reference is a manually-scheduled
micro-batch stream — hourly GitHub-Actions runs, each reading the tail
of the history as state and appending one snapshot. The Structured
Streaming equivalents:

  * trigger cadence        -> trigger(availableNow=True) per drop
  * last-300-row state     -> a compact `latest_snapshot` parquet table
                              maintained by foreachBatch (incremental
                              batch, the recommended form), or keyed
                              streaming state
  * keep-last dedup        -> dropDuplicatesWithinWatermark
  * append-only sheet      -> outputMode('append') partitioned parquet
  * re-run double-append   -> checkpoint + batch_id-keyed idempotent
                              partition overwrite (foreachBatch alone is
                              at-least-once; see StreamingOptionsPipeline)

Windowed event-time aggregation over the `events` shape (watermark +
tumbling/sliding/session windows) generalizes the reference to real
event-time feeds; their batch faces are oracle-checked as
sx01/sx02/sx03 in the query corpus.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.snapshot import derive_open_oi_change, latest_per_key
from eth_options_data_pipeline_spark.pipeline import PipelineConfig, snapshot
from eth_options_data_pipeline_spark.schemas import OPTIONS_CHAIN_COLUMNS, TICKER_RAW


def read_ticker_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of landed ticker drops (one JSON file per
    fetch — the streaming face of the reference's hourly REST poll)."""
    return (
        spark.readStream.schema(TICKER_RAW)
        .option("maxFilesPerTrigger", 1)   # one snapshot per micro-batch
        .json(input_dir)
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window aggregate with late-data bound —
    sx01's streaming face. Append-mode-safe (watermarked)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
        .select(F.col("w").start.alias("window_start"),
                F.col("w").end.alias("window_end"),
                "event_type", "cnt", "sum_value")
    )


def sliding_event_counts(events: DataFrame, window: str = "2 hours",
                         slide: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Sliding windows — sx03's streaming face."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w").start.alias("window_start"), "event_type", "cnt")
    )


def session_event_counts(events: DataFrame, gap: str = "30 minutes",
                         watermark: str = "2 hours") -> DataFrame:
    """Session windows (30-min inactivity gap) — sx02's streaming face."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w").start.alias("session_start"), "user_id",
                "n_events", "sum_value")
    )


def enrich_with_static(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich a stream against a broadcast static
    dimension (e.g., per-symbol contract metadata). The static side is
    re-read per micro-batch, so slowly-changing dimensions pick up
    updates without restarting the query; broadcast keeps the stream
    side shuffle-free."""
    from pyspark.sql import functions as _F

    return stream.join(_F.broadcast(dim), on=on, how="left")


def join_event_streams(left: DataFrame, right: DataFrame, key: str,
                       left_ts: str, right_ts: str,
                       lookback: str = "1 hour",
                       watermark: str = "2 hours") -> DataFrame:
    """Stream-stream inner join with bounded state: each left event
    pairs with right events for the same key within
    ``[left_ts - lookback, left_ts]`` (e.g. clicks joined to the
    purchases that preceded them by at most an hour).

    Both sides carry watermarks and the join condition carries the
    time bound, which is what lets Spark EVICT state: a buffered right
    row can be dropped once the watermark passes its ts + lookback,
    so state is O(rate x (lookback + watermark)) instead of unbounded.
    Without the time-range predicate Spark would have to keep every
    row forever (and rejects the query in append mode). This is the
    streaming face of the batch keyed interval join (q36's shape);
    the key-less batch variant is operators/ranges.py.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {lookback}"))
        & (rw[right_ts] <= lw[left_ts])
    )
    return lw.join(rw, cond, "inner")


def dedup_symbols_within_watermark(tickers: DataFrame, ts_col: str = "ts",
                                   watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup with bounded state (dropDuplicatesWithinWatermark
    evicts keys once the watermark passes).

    Documented deviation from W4: this keeps the FIRST row per SYMBOL
    within the watermark, while W4's batch semantics keep the LAST
    (dedup.keep_last). Spark's built-in streaming dedup cannot express
    keep-last (it would have to retract emitted rows in append mode).
    For the reference's feed the two agree — re-deliveries are verbatim
    duplicates — so this operator is the right tool for at-least-once
    transport dedup. When updates per key genuinely differ, use the
    keyed stateful operator instead (streaming/stateful.py keeps the
    latest row per SYMBOL and emits per micro-batch), or the
    foreachBatch pipeline below, which applies true batch keep-last
    inside every micro-batch. tests/test_streaming.py pins the
    keep-first behavior so the deviation stays visible."""
    return tickers.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(["symbol"])


class StreamingOptionsPipeline:
    """The full reference dataflow as an incremental stream.

    foreachBatch runs the (already-tested) batch pipeline per drop and
    maintains a compact latest-snapshot state table — state is
    O(|symbols|) regardless of history length, which is exactly the
    reference's tail-300 intent done scale-safely (SURVEY §7.4 trap 2).

    Exactly-once output: foreachBatch alone is only at-least-once — a
    micro-batch that fails after the output write but before the
    checkpoint commit is REPLAYED on restart. Both writes here are
    therefore idempotent keyed by batch_id:

      * output: dynamic partition overwrite into a
        ``run_id=batch_<id>`` partition (sinks.overwrite_run) — a
        replay overwrites exactly its own partition instead of
        double-appending (the reference's failure mode);
      * state: each batch writes a fresh ``_snapshot_v<id>`` dir (one
        write, no read-modify-rewrite of a live dir) and commitment is
        Spark's own ``_SUCCESS`` marker — a crash mid-write leaves a
        markerless dir that readers ignore. A replayed batch rebuilds
        its state version from the *previous* version (max committed
        v < batch_id), so replays are deterministic even when the
        crash happened after the state write.
    """

    STATE_VERSIONS_KEPT = 2     # current + previous (replay base)

    def __init__(self, config: PipelineConfig, output_dir: str, state_dir: str,
                 as_of_for_batch=None):
        self.config = config
        self.output_dir = output_dir
        self.state_dir = state_dir
        # injectable batch-time policy for deterministic tests
        self.as_of_for_batch = as_of_for_batch or (lambda batch_id: dt.datetime.utcnow())

    # -- versioned state ----------------------------------------------------

    def _state_path(self, version: int) -> str:
        # underscore prefix: even if state_dir is ever listed as a
        # table root, Spark/Hadoop listings skip these dirs
        return os.path.join(self.state_dir, f"_snapshot_v{version}")

    def _committed_versions(self) -> list[int]:
        if not os.path.isdir(self.state_dir):
            return []
        out = []
        for name in os.listdir(self.state_dir):
            if name.startswith("_snapshot_v"):
                try:
                    v = int(name[len("_snapshot_v"):])
                except ValueError:
                    continue
                if os.path.exists(os.path.join(self.state_dir, name, "_SUCCESS")):
                    out.append(v)
        return sorted(out)

    def _read_state(self, spark: SparkSession, before_batch_id: int) -> DataFrame | None:
        """Latest committed state STRICTLY BEFORE this batch — a replay
        of batch N must not read the state N itself wrote."""
        versions = [v for v in self._committed_versions() if v < before_batch_id]
        if not versions:
            return None
        return spark.read.parquet(self._state_path(versions[-1]))

    def _next_batch_id(self, checkpoint_dir: str) -> int:
        """First batch id the query will run, from the checkpoint's
        commits log (0 for a fresh/absent checkpoint)."""
        commits = os.path.join(checkpoint_dir, "commits")
        if not os.path.isdir(commits):
            return 0
        ids = [int(n) for n in os.listdir(commits) if n.isdigit()]
        return max(ids) + 1 if ids else 0

    def _reset_stale_state(self, checkpoint_dir: str) -> None:
        """Drop state versions the coming run could mistake for its own.

        If the checkpoint is reset (batch ids restart at 0) while
        state_dir still holds ``_snapshot_v*`` dirs from a prior run,
        the versions-``< batch_id`` rule in ``_read_state`` would
        silently replay a stale prior-run snapshot once the new run's
        ids catch up — and ``_prune_state`` never removes versions above
        the current batch. So on start: every version >= the next
        expected batch id is either prior-run leftovers or an orphan
        from a batch that never reached its checkpoint commit; both are
        safe to delete (a replayed batch rebuilds its state version
        deterministically from the previous one).
        """
        import shutil
        nxt = self._next_batch_id(checkpoint_dir)
        for v in self._committed_versions():
            if v >= nxt:
                shutil.rmtree(self._state_path(v), ignore_errors=True)

    def _prune_state(self, current_batch_id: int) -> None:
        import shutil
        keep = set(self._committed_versions()[-self.STATE_VERSIONS_KEPT:])
        keep.add(current_batch_id)
        if not os.path.isdir(self.state_dir):
            return
        for name in os.listdir(self.state_dir):
            if not name.startswith("_snapshot_v"):
                continue
            try:
                v = int(name[len("_snapshot_v"):])
            except ValueError:
                continue
            # uncommitted leftovers from crashes are pruned too, as long
            # as they're older than the batch we just committed
            if v not in keep and v < current_batch_id:
                shutil.rmtree(os.path.join(self.state_dir, name), ignore_errors=True)

    # -- per-batch dataflow -------------------------------------------------

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from eth_options_data_pipeline_spark.sinks import overwrite_run

        spark = batch_df.sparkSession
        as_of = self.as_of_for_batch(batch_id)
        snap = snapshot(batch_df, self.config, as_of)
        prev = self._read_state(spark, batch_id)
        if prev is not None:
            snap = derive_open_oi_change(snap, prev)
        out = snap.select(*OPTIONS_CHAIN_COLUMNS)
        # idempotent output: replayed batch overwrites its own
        # run_id partition instead of appending twice
        overwrite_run(out, self.output_dir, run_id=f"batch_{batch_id}")
        # fold the new snapshot into the compact keyed state — read
        # back from the just-written partition so the fold doesn't
        # recompute the pipeline plan a second time
        written = spark.read.parquet(self.output_dir).where(
            F.col("run_id") == f"batch_{batch_id}").drop("run_id")
        new_state = written if prev is None else prev.unionByName(written)
        latest = latest_per_key(new_state, keys=("SYMBOL",), order_cols=("Date", "Time"))
        latest.write.mode("overwrite").parquet(self._state_path(batch_id))
        self._prune_state(batch_id)

    def start(self, tickers: DataFrame, checkpoint_dir: str):
        self._reset_stale_state(checkpoint_dir)
        return (
            tickers.writeStream
            .foreachBatch(self._process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
