"""Streaming faces vs their batch oracles: sliding windows, session
windows, dedup-within-watermark."""

from __future__ import annotations

import pytest

# r13 suite-budget trim: stateful-stream tests run their queries
# at 2 shuffle partitions (see conftest.stream_parts)
pytestmark = pytest.mark.usefixtures("stream_parts")

import datetime as dt

from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.sources import load_table
from eth_options_data_pipeline_spark.streaming.stream import (
    dedup_symbols_within_watermark,
    session_event_counts,
    sliding_event_counts,
)


def _drain(df, tmp_path, name):
    q = (
        df.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_sliding_stream_matches_batch(spark, sf_small, tmp_path):
    events = load_table(spark, sf_small, "events")
    events.write.mode("overwrite").parquet(str(tmp_path / "ev"))
    stream = spark.readStream.schema(events.schema).parquet(str(tmp_path / "ev"))
    _drain(sliding_event_counts(stream), tmp_path, "slide")
    got = spark.sql("select * from slide")
    batch = (
        events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w").start.alias("window_start"), "event_type", "cnt")
    )
    assert got.exceptAll(batch).count() == 0
    assert got.count() > 0


def test_session_stream_matches_batch(spark, sf_small, tmp_path):
    """Exact equality of the streaming session windows against the
    batch session_window aggregation (r3-verdict item #7).

    Append mode only emits sessions the watermark has CLOSED, so a
    sentinel event one day past max(ts) rides in as a second
    micro-batch (maxFilesPerTrigger=1) and pushes the watermark past
    every real session's end — after which the streaming output must
    equal the batch result row-for-row."""
    import time

    events = load_table(spark, sf_small, "events")
    d = str(tmp_path / "ev2")
    events.coalesce(1).write.mode("overwrite").parquet(d)
    max_ts = events.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(999_999_999, max_ts + dt.timedelta(days=1), -1, "view", 0.0, "{}")],
        events.schema,
    )
    time.sleep(1.1)  # distinct mtime so the sentinel file batches last
    sentinel.coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    _drain(session_event_counts(stream), tmp_path, "sess")
    got = spark.sql("select * from sess").where(F.col("user_id") >= 0)

    batch = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w").start.alias("session_start"), "user_id",
                "n_events", "sum_value")
    )

    def r(df):
        # float sums: accumulation order differs between the incremental
        # state-store path and the batch hash aggregate
        return df.select("session_start", "user_id", "n_events",
                         F.round("sum_value", 6).alias("sv"))

    assert got.count() > 0
    assert r(got).exceptAll(r(batch)).count() == 0
    assert r(batch).exceptAll(r(got)).count() == 0


def test_dedup_within_watermark_keeps_first(spark, tmp_path):
    """One row per symbol, and it is the FIRST-arriving one — the
    documented deviation from W4's batch keep-last (see
    dedup_symbols_within_watermark docstring): correct for verbatim
    re-deliveries; when per-key updates differ, use the foreachBatch
    pipeline."""
    rows = []
    base = dt.datetime(2025, 1, 1, 12, 0)
    for i in range(10):
        # payload differs between duplicates so first-vs-last is visible
        rows.append((f"S{i % 3}", base + dt.timedelta(minutes=i), i))
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, seq int")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "ticks"))
    stream = spark.readStream.schema("symbol string, ts timestamp, seq int").parquet(str(tmp_path / "ticks"))
    _drain(dedup_symbols_within_watermark(stream), tmp_path, "dedup")
    got = spark.sql("select * from dedup")
    assert got.count() == 3
    kept = {r["symbol"]: r["seq"] for r in got.collect()}
    # single input file -> one batch, ordered scan: first occurrence wins
    assert kept == {"S0": 0, "S1": 1, "S2": 2}
