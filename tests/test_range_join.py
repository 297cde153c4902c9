"""point_in_interval_join: bucketized key-less range join.

Verified three ways: against a DuckDB range join on real testdata,
against Spark's own naive cross-join form (same pairs), and the plan
is asserted to hash-join on the bucket id instead of nested-looping.
"""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.ranges import point_in_interval_join
from eth_options_data_pipeline_spark.sources import load_table
from tests.job_groups import job_group
from tests.oracle_harness import duckdb_connection

SF_DIR = "/root/testdata/sf0.001"


def _frames(spark):
    """Points = click events (epoch seconds); intervals = per-user-mod
    'error burst' windows derived from error events (30 min wide)."""
    ev = load_table(spark, SF_DIR, "events")
    points = ev.where(F.col("event_type") == "click").select(
        "event_id", F.unix_timestamp("ts").alias("pts"))
    intervals = (
        ev.where(F.col("event_type") == "error")
        .where(F.col("event_id") % 7 == 0)
        .select(F.col("event_id").alias("interval_id"),
                F.unix_timestamp("ts").alias("s"),
                (F.unix_timestamp("ts") + 1800).alias("e"))
    )
    return points, intervals


def test_matches_duckdb_range_join(spark):
    points, intervals = _frames(spark)
    got = sorted(
        (r["event_id"], r["interval_id"])
        for r in point_in_interval_join(
            points, intervals, "pts", "s", "e", bucket=1800).collect()
    )
    con = duckdb_connection(SF_DIR)
    want = sorted(con.execute("""
        WITH p AS (SELECT event_id, epoch(ts)::BIGINT AS pts
                   FROM events WHERE event_type = 'click'),
        iv AS (SELECT event_id AS interval_id, epoch(ts)::BIGINT AS s,
                      epoch(ts)::BIGINT + 1800 AS e
               FROM events WHERE event_type = 'error' AND event_id % 7 = 0)
        SELECT p.event_id, iv.interval_id
        FROM p JOIN iv ON p.pts BETWEEN iv.s AND iv.e
    """).fetchall())
    assert got == want
    assert len(got) > 0  # the fixture actually produces overlaps


def test_matches_naive_spark_form(spark):
    points, intervals = _frames(spark)
    bucketed = point_in_interval_join(
        points, intervals, "pts", "s", "e", bucket=3600)
    naive = points.join(
        intervals, F.col("pts").between(F.col("s"), F.col("e")))
    assert bucketed.select("event_id", "interval_id").exceptAll(
        naive.select("event_id", "interval_id")).count() == 0
    assert naive.select("event_id", "interval_id").exceptAll(
        bucketed.select("event_id", "interval_id")).count() == 0


def test_plan_hash_joins_not_nested_loop(spark):
    points, intervals = _frames(spark)
    out = point_in_interval_join(points, intervals, "pts", "s", "e",
                                 bucket=1800)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    # the naive form, for contrast, nested-loops
    naive = points.join(intervals, F.col("pts").between(F.col("s"), F.col("e")))
    nplan = naive._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" in nplan or "Cartesian" in nplan


def test_undersized_bucket_rejected(spark):
    """The bucket check is in the plan: building submits no job, and
    the first action fails naming the bucket width."""
    points, intervals = _frames(spark)
    with job_group(spark, "range-join-build") as jobs:
        out = point_in_interval_join(points, intervals, "pts", "s", "e",
                                     bucket=60)
    assert len(jobs) == 0
    with pytest.raises(SparkRuntimeException, match="bucket width"):
        out.collect()
