"""Gap-fill (operators/gapfill.py): grid completeness, LOCF carry,
linear interpolation between bracketing observations."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.gapfill import gap_fill


def _events(spark, rows):
    # (event_id, ts, user_id, value)
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")


def _ts(day, h=12):
    return dt.datetime(2024, 1, day, h, 0, 0)


def test_grid_covers_global_range_per_key(spark):
    ev = _events(spark, [
        (1, _ts(1), 10, 1.0),
        (2, _ts(5), 10, 5.0),
        (3, _ts(3), 20, 3.0),   # key 20 observed only on day 3
    ])
    out = gap_fill(ev).collect()
    # global range Jan 1..5 -> 5 days x 2 keys
    assert len(out) == 10
    by = {(r.key, r.day.isoformat()): r for r in out}
    # key 20 before its first obs: sentinel, not null
    assert by[(20, "2024-01-01")].value_locf == -1.0
    assert by[(20, "2024-01-01")].observed == 0
    # LOCF carries day-3 value to days 4 and 5
    assert by[(20, "2024-01-04")].value_locf == 3.0
    assert by[(20, "2024-01-05")].value_locf == 3.0
    assert by[(10, "2024-01-03")].value_locf == 1.0


def test_locf_last_write_wins_within_day(spark):
    ev = _events(spark, [
        (1, _ts(2, h=9), 10, 1.0),
        (2, _ts(2, h=18), 10, 2.0),   # later same day wins
        (3, _ts(3), 10, 9.0),
    ])
    by = {r.day.isoformat(): r for r in gap_fill(ev).collect()}
    assert by["2024-01-02"].value_locf == 2.0


def test_interpolation_between_brackets(spark):
    # obs at day1=10.0 and day5=18.0 -> day3 lerps to 14.0, day2 to 12.0
    ev = _events(spark, [
        (1, _ts(1), 10, 10.0),
        (2, _ts(5), 10, 18.0),
    ])
    by = {r.day.isoformat(): r for r in gap_fill(ev).collect()}
    assert by["2024-01-01"].value_interp == 10.0
    assert by["2024-01-02"].value_interp == 12.0
    assert by["2024-01-03"].value_interp == 14.0
    assert by["2024-01-04"].value_interp == 16.0
    assert by["2024-01-05"].value_interp == 18.0


def test_interpolation_edges_locf_and_sentinel(spark):
    # key 10 spans days 1..4; key 20 observed day 2 only: before -> -1,
    # after -> LOCF
    ev = _events(spark, [
        (1, _ts(1), 10, 1.0),
        (2, _ts(4), 10, 4.0),
        (3, _ts(2), 20, 7.0),
    ])
    by = {(r.key, r.day.isoformat()): r
          for r in gap_fill(ev).collect()}
    assert by[(20, "2024-01-01")].value_interp == -1.0
    assert by[(20, "2024-01-03")].value_interp == 7.0
    assert by[(20, "2024-01-04")].value_interp == 7.0


def test_no_null_doubles_in_output(spark):
    ev = _events(spark, [(1, _ts(2), 10, 5.0), (2, _ts(4), 20, 6.0)])
    out = gap_fill(ev)
    assert out.where(F.col("value_locf").isNull()
                     | F.col("value_interp").isNull()).count() == 0
