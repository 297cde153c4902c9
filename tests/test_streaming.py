"""Structured Streaming tests: availableNow micro-batches on temp dirs,
memory sinks, and the incremental options pipeline with checkpointed
exactly-once appends."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

# r13 suite-budget trim: stateful-stream tests run their queries
# at 2 shuffle partitions (see conftest.stream_parts)
pytestmark = pytest.mark.usefixtures("stream_parts")
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.pipeline import HOURLY, run
from eth_options_data_pipeline_spark.sources import load_table, synthetic_tickers
from eth_options_data_pipeline_spark.streaming.stream import (
    StreamingOptionsPipeline,
    read_ticker_stream,
    windowed_event_counts,
)

AS_OF = dt.datetime(2025, 10, 27, 12, 30)


def _write_ticker_drop(spark, tickers_df, path: str) -> None:
    rows = [r.asDict() for r in tickers_df.collect()]
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_windowed_counts_match_batch_face(spark, sf_small, tmp_path):
    """Streaming tumbling-window agg over a file stream == the batch
    aggregation over the same rows (availableNow drains everything)."""
    events = load_table(spark, sf_small, "events")
    events.write.mode("overwrite").parquet(str(tmp_path / "ev"))
    stream = (
        spark.readStream.schema(events.schema)
        .parquet(str(tmp_path / "ev"))
    )
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.format("memory").queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from win_counts")
    batch = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w").start.alias("window_start"), "event_type", "cnt")
    )
    # watermark closes all windows except possibly the trailing ones;
    # compare the windows the stream emitted
    diff = got.select("window_start", "event_type", "cnt").exceptAll(
        batch.select("window_start", "event_type", "cnt")
    )
    assert diff.count() == 0
    assert got.count() > 0


def test_streaming_options_pipeline_two_drops(spark, tmp_path):
    """Two ticker drops through the streaming pipeline == two batch runs
    chained through state (drop2 derives Open from drop1's Close)."""
    in_dir = tmp_path / "drops"
    in_dir.mkdir()
    ticks = synthetic_tickers(spark, AS_OF.date())
    _write_ticker_drop(spark, ticks, str(in_dir / "drop1.json"))
    _write_ticker_drop(spark, ticks, str(in_dir / "drop2.json"))

    pipe = StreamingOptionsPipeline(
        HOURLY,
        output_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        as_of_for_batch=lambda bid: AS_OF + dt.timedelta(hours=bid),
    )
    stream = read_ticker_stream(spark, str(in_dir))
    q = pipe.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    out = spark.read.parquet(str(tmp_path / "out"))
    times = sorted(r["Time"] for r in out.select("Time").distinct().collect())
    assert len(times) == 2
    second = out.where(F.col("Time") == times[1])
    # second drop repeats the same tickers -> Open == Close, OI_Change == 0
    assert second.where(F.col("Open") != F.col("Close")).count() == 0
    assert second.where(F.col("OI_Change") != 0).count() == 0
    first = out.where(F.col("Time") == times[0])
    assert first.where(F.col("Open") != 0).count() == 0

    # restarting with the same checkpoint re-appends nothing (exactly-once)
    n_before = out.count()
    q2 = pipe.start(read_ticker_stream(spark, str(in_dir)), checkpoint_dir=str(tmp_path / "ckpt"))
    q2.awaitTermination(60)
    assert spark.read.parquet(str(tmp_path / "out")).count() == n_before


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch replayed after a crash
    between the output write and the checkpoint commit must not change
    the output (batch_id-keyed partition overwrite) and must rebuild
    the same state (derived from the previous version, not its own)."""
    ticks = synthetic_tickers(spark, AS_OF.date())
    pipe = StreamingOptionsPipeline(
        HOURLY,
        output_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        as_of_for_batch=lambda bid: AS_OF + dt.timedelta(hours=bid),
    )
    pipe._process_batch(ticks, 0)
    out1 = spark.read.parquet(str(tmp_path / "out"))
    n1 = out1.count()
    state1 = sorted(map(tuple, spark.read.parquet(pipe.state.path(0)).collect()))

    # replay the same batch (same batch_id): output and state unchanged
    pipe._process_batch(ticks, 0)
    out2 = spark.read.parquet(str(tmp_path / "out"))
    assert out2.count() == n1
    state2 = sorted(map(tuple, spark.read.parquet(pipe.state.path(0)).collect()))
    assert state1 == state2

    # next batch chains off batch 0's state: Open == prev Close
    pipe._process_batch(ticks, 1)
    out3 = spark.read.parquet(str(tmp_path / "out"))
    second = out3.where(F.col("run_id") == "batch_1")
    assert second.where(F.col("Open") != F.col("Close")).count() == 0
    # and replaying batch 1 after its state write still yields the same
    # output values (reads v0, not its own v1)
    vals = sorted(map(tuple, second.drop("run_id").collect()))
    pipe._process_batch(ticks, 1)
    second_replay = spark.read.parquet(str(tmp_path / "out")).where(
        F.col("run_id") == "batch_1")
    assert sorted(map(tuple, second_replay.drop("run_id").collect())) == vals


def test_uncommitted_state_version_is_ignored(spark, tmp_path):
    """A state dir without Spark's _SUCCESS marker (crash mid-write)
    must never be read as valid previous state."""
    ticks = synthetic_tickers(spark, AS_OF.date())
    pipe = StreamingOptionsPipeline(
        HOURLY,
        output_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        as_of_for_batch=lambda bid: AS_OF + dt.timedelta(hours=bid),
    )
    assert pipe.state.read_before(spark, 0) is None
    pipe._process_batch(ticks, 0)
    assert pipe.state.read_before(spark, 1) is not None

    # fake a crashed (markerless) newer version: still reads v0
    import os as _os
    crashed = pipe.state.path(1)
    _os.makedirs(crashed)
    with open(_os.path.join(crashed, "part-corrupt.parquet"), "w") as f:
        f.write("not parquet")
    assert pipe.state.committed() == [0]
    state = pipe.state.read_before(spark, 2)
    assert state is not None and state.count() > 0

    # a replay of batch 0 must not see ANY state (nothing before v0)
    assert pipe.state.read_before(spark, 0) is None


def test_checkpoint_reset_discards_prior_run_state(spark, tmp_path):
    """If the checkpoint is reset (batch ids restart at 0) while
    state_dir still holds committed _snapshot_v* dirs from a prior run,
    the new run must NOT replay that stale state once its ids catch up.
    start() derives the next batch id from the checkpoint commits log
    and deletes state versions at or above it."""
    import json as _json
    import os as _os

    ticks = synthetic_tickers(spark, AS_OF.date())
    pipe = StreamingOptionsPipeline(
        HOURLY,
        output_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        as_of_for_batch=lambda bid: AS_OF + dt.timedelta(hours=bid),
    )
    # prior run committed versions 0 and 1
    pipe._process_batch(ticks, 0)
    pipe._process_batch(ticks, 1)
    assert pipe.state.committed() == [0, 1]

    # fresh checkpoint (no commits dir) -> next id 0 -> all state stale
    pipe.state.reset_stale(str(tmp_path / "fresh_ckpt"))
    assert pipe.state.committed() == []

    # end-to-end: a brand-new checkpointed run over one drop derives
    # Open=0 everywhere (no inherited state), not prev-run Close values
    in_dir = tmp_path / "drops"
    in_dir.mkdir()
    _write_ticker_drop(spark, ticks, str(in_dir / "drop1.json"))
    q = pipe.start(read_ticker_stream(spark, str(in_dir)),
                   checkpoint_dir=str(tmp_path / "ckpt2"))
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out")).where(
        F.col("run_id") == "batch_0")
    assert out.count() > 0
    assert out.where(F.col("Open") != 0).count() == 0

    # a checkpoint with commits up to N keeps versions < N+1
    pipe._process_batch(ticks, 1)
    commits = tmp_path / "ckpt3" / "commits"
    commits.mkdir(parents=True)
    for b in ("0", "1"):
        (commits / b).write_text(_json.dumps({"v": 1}))
    pipe.state.reset_stale(str(tmp_path / "ckpt3"))
    assert 1 in pipe.state.committed()


def test_stream_stream_join_matches_batch(spark, sf_small, tmp_path):
    """Watermarked stream-stream interval join == the equivalent batch
    join over the same rows (availableNow drains everything, so the
    only rows the stream may omit are watermark-late ones — none in a
    single ordered drain)."""
    from eth_options_data_pipeline_spark.sources import load_table
    from eth_options_data_pipeline_spark.streaming.stream import join_event_streams

    events = load_table(spark, sf_small, "events")
    events.write.mode("overwrite").parquet(str(tmp_path / "ev"))

    def stream(kind):
        s = spark.readStream.schema(events.schema).parquet(str(tmp_path / "ev"))
        return (
            s.where(F.col("event_type") == kind)
            .select(F.col("event_id").alias(f"{kind}_id"), "user_id",
                    F.col("ts").alias(f"{kind}_ts"))
        )

    clicks, purchases = stream("click"), stream("purchase")
    # same-name key on both sides is fine: the join condition uses
    # qualified refs and the projection below selects unambiguous cols
    joined = join_event_streams(
        clicks, purchases, key="user_id",
        left_ts="click_ts", right_ts="purchase_ts")
    q = (
        joined.selectExpr("click_id", "purchase_id")
        .writeStream.format("memory").queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r["click_id"], r["purchase_id"])
           for r in spark.sql("select * from ss_join").collect()}

    c = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"))
    p = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
    want = {
        (r["click_id"], r["purchase_id"])
        for r in c.join(
            p, (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 hour"))
            & (F.col("purchase_ts") <= F.col("click_ts"))).collect()
    }
    assert got == want and len(want) > 0


def test_twin_state_is_the_cli_tail_where_the_bound_bites(spark, tmp_path):
    """The twin's state is the last ``state_tail`` rows of the log,
    like the CLI chain's ``tail_n`` over the history, not a fold of
    every symbol ever seen. A symbol out of the band for longer than
    the tail comes back with Open 0 and OI_Change 0 on both sides."""
    from dataclasses import replace

    from eth_options_data_pipeline_spark.schemas import OPTIONS_CHAIN

    ticks = synthetic_tickers(spark, AS_OF.date())
    first = run(ticks, None, HOURLY, AS_OF).select(*OPTIONS_CHAIN.fieldNames())
    gone = first.orderBy("SYMBOL").first()["SYMBOL"]
    without = ticks.where(F.col("symbol") != gone)
    # batches 1 and 2 leave `gone` out; a tail of one snapshot then
    # holds batch 2 alone when it returns in batch 3
    config = replace(HOURLY, state_tail=first.count() - 1)
    drops = [ticks, without, without, ticks]

    pipe = StreamingOptionsPipeline(
        config, output_dir=str(tmp_path / "out"), state_dir=str(tmp_path / "state"),
        as_of_for_batch=lambda bid: AS_OF + dt.timedelta(hours=bid))
    history = None
    for bid, drop in enumerate(drops):
        pipe._process_batch(drop, bid)
        want = run(drop, history, config, AS_OF + dt.timedelta(hours=bid))
        got = spark.read.parquet(str(tmp_path / "out")).where(
            F.col("run_id") == f"batch_{bid}").select(*OPTIONS_CHAIN.fieldNames())
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())), bid
        history = want if history is None else history.unionByName(want)
        history = spark.createDataFrame(history.collect(), history.schema)

    back = got.where(F.col("SYMBOL") == gone).first()
    assert back is not None and back["Close"] != 0
    assert (back["Open"], back["OI_Change"]) == (0.0, 0)
