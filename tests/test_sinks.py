"""Sink contract (S2/S3/S4): partitioned append, idempotent overwrite
per run, history read-back."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.pipeline import HOURLY, run
from eth_options_data_pipeline_spark.sinks import (
    append_snapshot, overwrite_run, read_history,
)
from eth_options_data_pipeline_spark.sources import synthetic_tickers
from tests.job_groups import job_group

AS_OF = dt.datetime(2025, 10, 27, 12, 30)


def test_append_and_readback_partitioned(spark, tmp_path):
    out = run(synthetic_tickers(spark, AS_OF.date()), None, HOURLY, AS_OF)
    path = str(tmp_path / "chain")
    append_snapshot(out, path)
    append_snapshot(out, path)  # reference semantics: append twice = 2x rows
    back = read_history(spark, path)
    assert back.count() == 2 * out.count()
    # Date became a partition column -> partition-pruned read works
    pruned = spark.read.parquet(path).where(F.col("Date") == F.lit(AS_OF.date()))
    assert pruned.count() == 2 * out.count()


def test_overwrite_run_is_idempotent(spark, tmp_path):
    out = run(synthetic_tickers(spark, AS_OF.date()), None, HOURLY, AS_OF)
    path = str(tmp_path / "chain")
    overwrite_run(out, path, run_id="2025-10-27T12")
    n1 = spark.read.parquet(path).count()
    overwrite_run(out, path, run_id="2025-10-27T12")  # re-run same id
    assert spark.read.parquet(path).count() == n1     # no double-append
    overwrite_run(out, path, run_id="2025-10-27T13")  # next run adds
    assert spark.read.parquet(path).count() == 2 * n1


def test_q29_fold_reinvocation_is_idempotent(spark, sf_small):
    """r14 fold: q29's composition writes slice A overwrite then
    APPENDS slice B to the same partitioned table. A re-invocation in
    the same session (bench reps, sweeps) must produce identical rows
    — the overwrite resets the table, so the append can never
    accumulate across calls."""
    from eth_options_data_pipeline_spark.queries import REGISTRY

    fn = REGISTRY["q29_sink_roundtrip"].fn
    first = sorted(map(tuple, fn(spark, sf_small).collect()))
    second = sorted(map(tuple, fn(spark, sf_small).collect()))
    assert first == second


def _history_table(spark, path, rows_per_date: dict[dt.date, int], per_snapshot: int = 60):
    """A table in ``append_snapshot``'s layout holding the given row
    count per Date, split into hourly snapshots of ``per_snapshot``
    rows, so a partition holds several files. Every row's
    ``APPEND_ORDER`` key is distinct, so the tail is one set of rows."""
    from eth_options_data_pipeline_spark.schemas import OPTIONS_CHAIN

    rows = []
    for day, n in rows_per_date.items():
        for i in range(n):
            t = dt.datetime.combine(day, dt.time(i // per_snapshot))
            rows.append((f"S{i % per_snapshot:03d}", day, t, 1800.0 + i, day + dt.timedelta(days=7),
                         2000.0, "call", float(i), i, 0.0, 0))
    df = spark.createDataFrame(rows, OPTIONS_CHAIN)
    append_snapshot(df.repartition(4, "Time"), path)


def _files_by_date(files: list[str]) -> set[str]:
    return {part for f in files for part in f.split("/") if part.startswith("Date=")}


@pytest.mark.parametrize("newest", [120, 300, 420], ids=["fewer", "exact", "more"])
def test_read_history_tail_matches_full_table(spark, tmp_path, newest):
    """``tail_n`` over the bounded read equals ``tail_n`` over the whole
    table, whether the newest partition holds fewer than, exactly, or
    more than the tail (with fewer, the cut crosses a Date boundary);
    opening it submits no Spark job and lists only the kept partitions."""
    from eth_options_data_pipeline_spark.operators.snapshot import tail_n
    from eth_options_data_pipeline_spark.schemas import OPTIONS_CHAIN

    days = [dt.date(2025, 10, d) for d in (25, 26, 27)]
    path = str(tmp_path / "chain")
    _history_table(spark, path, {days[0]: 250, days[1]: 250, days[2]: newest})

    with job_group(spark, "read-history") as jobs:
        bounded = read_history(spark, path, 300)
    assert jobs == []

    kept = {f"Date={d}" for d in (days[1:] if newest < 300 else days[2:])}
    assert _files_by_date(bounded.inputFiles()) == kept

    def tail(df):
        return sorted(map(tuple, tail_n(df, 300).select(*OPTIONS_CHAIN.fieldNames()).collect()))

    got, want = tail(bounded), tail(spark.read.parquet(path))
    assert len(got) == 300 and got == want
    assert _files_by_date(read_history(spark, path).inputFiles()) == {f"Date={d}" for d in days}


def test_read_history_lists_32_partitions_without_a_job(spark, tmp_path):
    """The stated limit of the jobless open: a walk that keeps 32
    ``Date`` partitions (``parallelPartitionDiscovery.threshold``) is
    listed on the driver; a 33rd costs Spark's distributed listing
    job."""
    days = [dt.date(2025, 9, 1) + dt.timedelta(days=i) for i in range(33)]
    path = str(tmp_path / "chain")
    _history_table(spark, path, dict.fromkeys(days, 5), per_snapshot=5)
    for keep in (32, 33):
        with job_group(spark, f"read-history-{keep}") as jobs:
            df = read_history(spark, path, 5 * keep)
        assert len(_files_by_date(df.inputFiles())) == keep
        assert (len(jobs) > 0) == (keep > 32), (keep, jobs)


def test_read_history_none_without_data_files(spark, tmp_path):
    """No history: a missing path, an empty directory, and a table
    whose partitions hold no data file (a zero-row run's ``_SUCCESS``,
    a hidden file, an underscore-prefixed scratch directory) all
    read as None."""
    assert read_history(spark, str(tmp_path / "missing"), 300) is None
    empty = tmp_path / "empty"
    empty.mkdir()
    assert read_history(spark, str(empty), 300) is None

    table = tmp_path / "chain"
    _history_table(spark, str(table / "_compact_tmp_Date%3D2025-10-27"),
                   {dt.date(2025, 10, 27): 5})
    (table / "_SUCCESS").write_bytes(b"")
    (table / "Date=2025-10-27").mkdir()
    (table / "Date=2025-10-27" / ".part-0.parquet.crc").write_bytes(b"")
    assert read_history(spark, str(table), 300) is None
    assert read_history(spark, str(table)) is None
