"""Rollup hierarchy invariants: coarsening partials must equal direct
aggregation of raw data at the coarse grain — exactly for the additive
stats, register-identically for the HLL distinct sketches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.rollup import (
    coarsen,
    readout,
    refresh_incremental,
    rollup_partials,
)
from eth_options_data_pipeline_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"
KEYS = ["event_type"]


def _events(spark):
    return load_table(spark, SF_DIR, "events")


def _collect_stats(df):
    return {
        (r["bucket"], r["event_type"]):
            (r["cnt"], round(r["sum_v"], 6), r["min_v"], r["max_v"])
        for r in df.collect()
    }


def test_coarsen_equals_direct_aggregation(spark):
    ev = _events(spark)
    hourly = rollup_partials(ev, "ts", KEYS, "value", "user_id", "hour")
    daily_from_hourly = coarsen(hourly, "hour", "day", KEYS)
    daily_direct = rollup_partials(ev, "ts", KEYS, "value", "user_id", "day")
    assert _collect_stats(daily_from_hourly) == _collect_stats(daily_direct)


def test_hll_union_matches_direct_sketch_estimate(spark):
    """Per-bucket sketches unioned upward give the SAME estimate as
    sketching the coarse bucket directly (registers are per-item
    maxima over a partition of the rows)."""
    ev = _events(spark)
    hourly = rollup_partials(ev, "ts", KEYS, "value", "user_id", "hour")
    merged = readout(coarsen(hourly, "hour", "day", KEYS)).select(
        "bucket", "event_type", "approx_distinct")
    direct = readout(
        rollup_partials(ev, "ts", KEYS, "value", "user_id", "day")).select(
        "bucket", "event_type", "approx_distinct")
    a = {(r["bucket"], r["event_type"]): r["approx_distinct"]
         for r in merged.collect()}
    b = {(r["bucket"], r["event_type"]): r["approx_distinct"]
         for r in direct.collect()}
    assert a == b
    # and the estimates are close to exact distinct counts
    exact = {
        (r["bucket"], r["event_type"]): r["n"]
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("bucket"),
                            *KEYS)
        .agg(F.countDistinct("user_id").alias("n")).collect()
    }
    for k, est in a.items():
        assert abs(est - exact[k]) <= max(2, 0.05 * exact[k])


def test_readout_avg_is_lossless_at_every_grain(spark):
    ev = _events(spark)
    hourly = rollup_partials(ev, "ts", KEYS, "value", "user_id", "hour")
    monthly = readout(coarsen(hourly, "hour", "month", KEYS))
    direct = ev.groupBy(F.date_trunc("month", "ts").alias("bucket"), *KEYS) \
        .agg(F.avg("value").alias("avg_v"))
    a = {(r["bucket"], r["event_type"]): round(r["avg_v"], 9)
         for r in monthly.collect()}
    b = {(r["bucket"], r["event_type"]): round(r["avg_v"], 9)
         for r in direct.collect()}
    assert a == b


def test_incremental_refresh_equals_full_recompute(spark):
    """Folding a new slice of raw rows into existing partials equals
    recomputing partials over the full data."""
    ev = _events(spark).cache()
    old = ev.where(F.col("event_id") % 5 != 0)
    new = ev.where(F.col("event_id") % 5 == 0)
    base = rollup_partials(old, "ts", KEYS, "value", "user_id", "hour")
    refreshed = refresh_incremental(base, new, "ts", KEYS, "value",
                                    "user_id", "hour")
    full = rollup_partials(ev, "ts", KEYS, "value", "user_id", "hour")
    assert _collect_stats(refreshed) == _collect_stats(full)
    # sketches merge identically too
    a = {(r["bucket"], r["event_type"]): r["approx_distinct"]
         for r in readout(refreshed).collect()}
    b = {(r["bucket"], r["event_type"]): r["approx_distinct"]
         for r in readout(full).collect()}
    assert a == b
    ev.unpersist()


def test_grain_direction_enforced(spark):
    ev = _events(spark)
    hourly = rollup_partials(ev, "ts", KEYS, "value", "user_id", "hour")
    with pytest.raises(ValueError, match="coarser"):
        coarsen(hourly, "day", "hour", KEYS)
    with pytest.raises(ValueError, match="grain"):
        rollup_partials(ev, "ts", KEYS, "value", "user_id", "minute")


def test_streaming_rollup_equals_batch(spark, tmp_path):
    """availableNow stream over event drops -> folded partials equal a
    one-shot batch rollup of the same rows; replayed batches fold
    idempotently (versioned state, replay reads the previous version)."""
    from eth_options_data_pipeline_spark.operators.rollup import (
        read_streaming_partials,
        streaming_rollup,
    )

    ev = _events(spark)
    ev.write.mode("overwrite").parquet(str(tmp_path / "drops"))
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1).parquet(str(tmp_path / "drops"))
    q = streaming_rollup(
        stream, state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        ts="ts", keys=KEYS, value="value", distinct_col="user_id")
    q.awaitTermination(180)

    got = read_streaming_partials(spark, str(tmp_path / "state"))
    want = rollup_partials(ev, "ts", KEYS, "value", "user_id", "hour")
    assert _collect_stats(got) == _collect_stats(want)
    a = {(r["bucket"], r["event_type"]): r["approx_distinct"]
         for r in readout(got).collect()}
    b = {(r["bucket"], r["event_type"]): r["approx_distinct"]
         for r in readout(want).collect()}
    assert a == b

    # restart with the same checkpoint: no new data -> state unchanged
    q2 = streaming_rollup(
        spark.readStream.schema(ev.schema).option(
            "maxFilesPerTrigger", 1).parquet(str(tmp_path / "drops")),
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        ts="ts", keys=KEYS, value="value", distinct_col="user_id")
    q2.awaitTermination(60)
    again = read_streaming_partials(spark, str(tmp_path / "state"))
    assert _collect_stats(again) == _collect_stats(want)


def test_streaming_rollup_prunes_old_versions(spark, tmp_path):
    """Multi-batch stream keeps at most current + replay-base partials
    versions on disk (state must not grow with stream length)."""
    import os

    from eth_options_data_pipeline_spark.operators.rollup import streaming_rollup

    ev = _events(spark).cache()
    drops = tmp_path / "drops"
    drops.mkdir()
    for i in range(4):  # four files -> four micro-batches
        ev.where(F.col("event_id") % 4 == i).write.mode("overwrite").parquet(
            str(drops / f"d{i}"))
    paths = [str(drops / f"d{i}") for i in range(4)]
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1).parquet(str(drops) + "/d*")
    q = streaming_rollup(
        stream, state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        ts="ts", keys=KEYS, value="value", distinct_col="user_id")
    q.awaitTermination(240)
    versions = [n for n in os.listdir(str(tmp_path / "state"))
                if n.startswith("_partials_v")]
    assert len(versions) <= 3  # current + replay base (+ tolerance)
    ev.unpersist()


def test_streaming_rollup_empty_batch_is_noop(spark, tmp_path):
    """Trap-9 streaming face: an empty drop folds cleanly (no crash,
    stats unchanged)."""
    from eth_options_data_pipeline_spark.operators.rollup import (
        read_streaming_partials,
        streaming_rollup,
    )

    ev = _events(spark)
    drops = tmp_path / "drops"
    drops.mkdir()
    ev.write.mode("overwrite").parquet(str(drops / "d0"))
    ev.limit(0).write.mode("overwrite").parquet(str(drops / "d1"))
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1).parquet(str(drops) + "/d*")
    q = streaming_rollup(
        stream, state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        ts="ts", keys=KEYS, value="value", distinct_col="user_id")
    q.awaitTermination(180)
    got = read_streaming_partials(spark, str(tmp_path / "state"))
    want = rollup_partials(ev, "ts", KEYS, "value", "user_id", "hour")
    assert _collect_stats(got) == _collect_stats(want)


def test_streaming_rollup_fresh_checkpoint_drops_prior_run_state(
        spark, tmp_path):
    """A second run with a new checkpoint over a state_dir holding a
    prior run's versions serves only the new run's partials: batch ids
    restart at 0, so the prior run's higher versions would otherwise
    stay the latest committed ones."""
    from eth_options_data_pipeline_spark.operators.rollup import (
        read_streaming_partials,
        streaming_rollup,
    )

    ev = _events(spark).select("ts", "value", "user_id").cache()
    schema = ev.withColumn("event_type", F.lit("")).schema

    def run(name, types):
        drops = tmp_path / name
        for i, t in enumerate(types):
            ev.where(F.abs(F.hash("user_id")) % len(types) == i).withColumn(
                "event_type", F.lit(t)).coalesce(1).write.parquet(
                str(drops / f"d{i}"))
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(str(drops) + "/d*")
        q = streaming_rollup(
            stream, state_dir=str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
            ts="ts", keys=KEYS, value="value", distinct_col="user_id")
        q.awaitTermination(180)
        assert q.exception() is None

    run("a", ["a", "b"])
    assert {r["event_type"] for r in read_streaming_partials(
        spark, str(tmp_path / "state")).collect()} == {"a", "b"}
    run("b", ["z"])
    got = read_streaming_partials(spark, str(tmp_path / "state"))
    want = rollup_partials(ev.withColumn("event_type", F.lit("z")),
                           "ts", KEYS, "value", "user_id", "hour")
    assert _collect_stats(got) == _collect_stats(want)
    ev.unpersist()
