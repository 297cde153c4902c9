"""Source-boundary schema normalization (VERDICT r3 item #2).

The driver's ``events.parquet`` has shipped in three physical flavors
across rounds: TIMESTAMP(NANOS) (Spark reads only as raw nanos via the
legacy conf), TIMESTAMP_NTZ (isAdjustedToUTC=false micros), and plain
TIMESTAMP(MICROS, adjusted to UTC). ``sources.load_table`` must yield a
plain ``TimestampType`` ``ts`` for all three so no query ever touches a
raw un-normalized event-time column again.
"""
from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from eth_options_data_pipeline_spark.sources import load_table, normalize_event_time
from tests.job_groups import job_group

TS_VALUES = [
    dt.datetime(2024, 1, 1, 0, 0, 0),
    dt.datetime(2024, 1, 1, 12, 34, 56, 789123),
    dt.datetime(2024, 6, 30, 23, 59, 59, 999999),
]


def _write_events(tmpdir: str, ts_type: pa.DataType, version: str = "2.6") -> str:
    """Write a minimal events table with ``ts`` in the given arrow type."""
    sf_dir = os.path.join(tmpdir, "sf")
    os.makedirs(sf_dir, exist_ok=True)
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(TS_VALUES).cast(ts_type),
            "user_id": pa.array([10, 20, 30], pa.int64()),
            "event_type": pa.array(["view", "click", "purchase"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"), version=version)
    return sf_dir


@pytest.mark.parametrize(
    "ts_type",
    [
        pa.timestamp("ns"),            # TIMESTAMP(NANOS): legacy nanosAsLong path
        pa.timestamp("us"),            # TIMESTAMP_NTZ (isAdjustedToUTC=false)
        pa.timestamp("us", tz="UTC"),  # plain TIMESTAMP(MICROS)
    ],
    ids=["nanos", "ntz-micros", "utc-micros"],
)
def test_load_table_normalizes_every_ts_flavor(spark, tmp_path, ts_type):
    sf_dir = _write_events(str(tmp_path), ts_type)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r.ts for r in df.select("ts").collect())
    # under the session's UTC tz all three flavors decode to the same
    # wall-clock micros (nanos truncate toward zero like DuckDB)
    assert got == TS_VALUES


def test_normalized_ts_supports_event_time_ops(spark, tmp_path):
    """The exact expressions that broke in round 3 must analyze cleanly."""
    from pyspark.sql import functions as F

    sf_dir = _write_events(str(tmp_path), pa.timestamp("us"))  # NTZ flavor
    df = load_table(spark, sf_dir, "events")
    out = df.select(
        F.unix_micros("ts").alias("us"),          # extensions.py session gaps
        F.col("ts").cast("bigint").alias("secs"),  # funnel.py epoch cast
        F.window("ts", "1 hour").alias("w"),       # streaming faces
    ).collect()
    assert len(out) == 3
    assert out[0].us is not None


def test_normalize_event_time_is_identity_on_plain_timestamp(spark):
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(1,)], "id int").select(
        "id", F.lit(TS_VALUES[0]).alias("ts")
    )
    assert normalize_event_time(df) is df


def test_real_testdata_events_ts_is_timestamp(spark, sf_small):
    df = load_table(spark, sf_small, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"


def _load_counting_jobs(spark, sf_dir: str):
    with job_group(spark, "load-events") as jobs:
        df = load_table(spark, sf_dir, "events")
    ts = sorted(r.ts for r in df.select("ts").collect())
    return ts, len(jobs)


def test_load_table_infers_each_file_version_once(spark, tmp_path):
    """Only the first load of a file version pays the schema-inference
    job; a later load declares the schema it found. A file replaced at
    the same path with another ``ts`` encoding is inferred again (a
    stale raw-nanos schema would read its micros 1000x too small)."""
    sf_dir = _write_events(str(tmp_path), pa.timestamp("ns"))
    assert _load_counting_jobs(spark, sf_dir)[0] == TS_VALUES
    assert _load_counting_jobs(spark, sf_dir) == (TS_VALUES, 0)

    _write_events(str(tmp_path), pa.timestamp("us", tz="UTC"))
    ts, n = _load_counting_jobs(spark, sf_dir)
    assert ts == TS_VALUES and n >= 1
