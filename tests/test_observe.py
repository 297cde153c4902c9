"""Observed-metrics telemetry (A4): parse counters ride the normal
action — parity with the reference's log counters (main.py:225-226)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Observation

from eth_options_data_pipeline_spark.pipeline import HOURLY, run
from eth_options_data_pipeline_spark.sources import synthetic_tickers

AS_OF = dt.datetime(2025, 10, 27, 12, 30)


def test_parse_telemetry_metrics(spark):
    ticks = synthetic_tickers(spark, AS_OF.date())
    obs = Observation("parse_telemetry")
    snap = run(ticks, None, HOURLY, AS_OF, observation=obs)
    snap.count()
    got = obs.get
    n = ticks.count()
    assert got["rows_fetched"] == n
    assert got["successful_parses"] + got["failed_parses"] == n
    assert got["failed_parses"] > 0  # malformed fixture rows counted
