"""CLI runner: one action per run (rows_appended rides the write via an
Observation — round-1 advice: no post-write recompute), telemetry
fields, and the empty-history cold start."""

from __future__ import annotations

import datetime as dt
import json
import os
import re

import pytest

from eth_options_data_pipeline_spark.cli import main
from tests.job_groups import job_group


def test_cli_cold_and_warm_run(spark, tmp_path, capsys):
    out_dir = str(tmp_path / "chain")
    rc = main(["--config", "hourly", "--source", "synthetic",
               "--output", out_dir, "--as-of", "2025-10-27T12:30:00"])
    assert rc == 0
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    on_disk = spark.read.parquet(out_dir).count()
    assert rep1["rows_appended"] == on_disk > 0
    assert rep1["successful_parses"] > 0 and rep1["rows_fetched"] > 0

    # warm run: history present, appends again
    rc = main(["--config", "hourly", "--source", "synthetic",
               "--output", out_dir, "--as-of", "2025-10-27T13:30:00"])
    assert rc == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert spark.read.parquet(out_dir).count() == rep1["rows_appended"] + rep2["rows_appended"]


def _data_files(path):
    return sorted(os.path.join(d, n) for d, _, names in os.walk(path)
                  for n in names if n.endswith(".parquet"))


def _persistent_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(e.getKey()) for e in jmap.entrySet().toArray()}


def test_cli_warm_hourly_run_job_budget(spark, tmp_path, monkeypatch, capsys):
    """A warm hourly run on a table with history from a landed JSON
    drop: at most 3 Spark jobs (the landing aggregate, the state tail's
    broadcast, the write; the history is opened from metadata with its
    declared schema), nothing left persisted, and an appended plan that
    scans the landing once, with no cache and no global window. Each
    appended file is sorted by SYMBOL: the sink owns the file order,
    the run hands it unsorted rows."""
    import pyarrow.parquet as pq

    from eth_options_data_pipeline_spark import cli
    from eth_options_data_pipeline_spark.sources import synthetic_tickers
    from tests.test_plans import global_window_lines

    out_dir = str(tmp_path / "chain")
    landed = str(tmp_path / "landed")
    synthetic_tickers(spark, dt.date(2025, 10, 27)).coalesce(1).write.json(landed)
    args = ["--config", "hourly", "--source", landed, "--output", out_dir]
    assert main([*args, "--as-of", "2025-10-27T11:30:00"]) == 0

    appended = []
    real_append = cli.append_snapshot
    monkeypatch.setattr(cli, "append_snapshot",
                        lambda df, path: (appended.append(df), real_append(df, path)))
    base = _persistent_ids(spark)
    with job_group(spark, "cli-warm-hourly") as jobs:
        assert main([*args, "--as-of", "2025-10-27T12:30:00"]) == 0
    n_jobs = len(jobs)
    assert n_jobs <= 3, f"warm hourly run submitted {n_jobs} jobs"
    assert _persistent_ids(spark) - base == set()

    qe = appended[0]._jdf.queryExecution()
    optimized, physical = qe.optimizedPlan().toString(), qe.executedPlan().toString()
    assert "InMemoryRelation" not in optimized and "InMemoryTableScan" not in physical
    assert global_window_lines(physical) == [], physical
    assert physical.count("FileScan json") == 1, physical

    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_appended"] > 0
    files = _data_files(out_dir)
    assert len(files) == 2
    for f in files:
        syms = pq.read_table(f, columns=["SYMBOL"]).column("SYMBOL").to_pylist()
        assert syms == sorted(syms), f
    # a warm run on the same landing: every symbol has a previous row
    back = spark.read.parquet(out_dir).where("Time = TIMESTAMP'2025-10-27 12:30:00'")
    assert back.where("OI_Change != 0").count() == 0
    assert back.count() == rep["rows_appended"]


def test_cli_weekly_warm_run_joins_history(spark, tmp_path, capsys):
    """The weekly config takes the same parse, scrub and state join:
    a second run on the same tickers finds every symbol in history
    (Open = previous Close, OI_Change = 0) and persists nothing."""
    out_dir = str(tmp_path / "weekly")
    args = ["--config", "weekly", "--source", "synthetic", "--output", out_dir]
    base = _persistent_ids(spark)
    assert main([*args, "--as-of", "2025-10-27T12:30:00"]) == 0
    assert main([*args, "--as-of", "2025-10-27T13:30:00"]) == 0
    reps = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()[-2:]]
    assert reps[0]["rows_appended"] == reps[1]["rows_appended"] > 0
    assert _persistent_ids(spark) - base == set()
    t = spark.read.parquet(out_dir)
    first = t.where("Time = TIMESTAMP'2025-10-27 12:30:00'").selectExpr("SYMBOL", "Close AS prev_close")
    second = t.where("Time = TIMESTAMP'2025-10-27 13:30:00'").join(first, "SYMBOL", "left")
    assert second.count() == reps[1]["rows_appended"]
    assert second.where("prev_close IS NULL OR Open != prev_close OR OI_Change != 0").count() == 0


def test_cli_table_without_data_files_is_a_cold_start(spark, tmp_path, capsys):
    """A table directory that holds no data files yet (every earlier
    run appended zero rows) reads as no history, like a missing path:
    the next run appends with Open/OI_Change defaulted. The empty run
    itself completes and reports its parse counters as 0."""
    from eth_options_data_pipeline_spark.schemas import TICKER_RAW

    out_dir, landed = str(tmp_path / "chain"), str(tmp_path / "empty")
    spark.createDataFrame([], TICKER_RAW).write.json(landed)
    args = ["--config", "hourly", "--output", out_dir]
    assert main([*args, "--source", landed, "--as-of", "2025-10-27T11:30:00"]) == 0
    assert os.path.isdir(out_dir) and _data_files(out_dir) == []
    assert main([*args, "--source", "synthetic", "--as-of", "2025-10-27T12:30:00"]) == 0
    reps = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()[-2:]]
    assert reps[0]["rows_appended"] == 0 < reps[1]["rows_appended"]
    assert reps[0]["rows_fetched"] == 0 < reps[1]["rows_fetched"]
    assert spark.read.parquet(out_dir).where("Open != 0 OR OI_Change != 0").count() == 0


# five rows the run rejects: four whose expiry token does not parse, and
# one that parses but has a zero strike (main.py:164-190)
_REJECTED = [
    ("C-ETH-3200-311025", "call_options", "0", "3200", "10.0", "5"),
    ("C-ETH-3200-3110", "call_options", "3200", "3200", "10.0", "5"),
    ("C-ETH-3200-31OCT5", "put_options", "3200", "3200", "10.0", "5"),
    ("ETH-3200", "put_options", "3200", "3200", "10.0", "5"),
    (None, "call_options", "3200", "3200", "10.0", "5"),
]


@pytest.mark.parametrize("config", ["hourly", "weekly"])
@pytest.mark.parametrize("rows, counters", [(_REJECTED, (5, 1, 4)), ([], (0, 0, 0))],
                         ids=["all-rejected", "empty"])
def test_cli_run_that_appends_nothing_reports_its_parse_counters(
        spark, tmp_path, capsys, config, rows, counters):
    """A run whose landing yields no row still prints the reference's
    parse telemetry (main.py:225-226): the landing aggregate outputs
    one row whatever the landing holds, and the counters ride on it."""
    from eth_options_data_pipeline_spark.schemas import TICKER_RAW

    landed = str(tmp_path / "landed")
    spark.createDataFrame(rows, TICKER_RAW).coalesce(1).write.json(landed)
    assert main(["--config", config, "--source", landed,
                 "--output", str(tmp_path / "chain"),
                 "--as-of", "2025-10-27T12:30:00"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_appended"] == 0
    assert (rep["rows_fetched"], rep["successful_parses"], rep["failed_parses"]) == counters


def test_cli_corrupt_history_fails_the_run(spark, tmp_path):
    """An unreadable history file fails the run. Falling back to 'no
    history' would append a snapshot with every Open/OI_Change
    silently defaulted to 0."""
    out_dir = str(tmp_path / "chain")
    args = ["--config", "hourly", "--source", "synthetic", "--output", out_dir]
    assert main([*args, "--as-of", "2025-10-27T12:30:00"]) == 0
    (history_file,) = _data_files(out_dir)
    with open(history_file, "wb") as f:
        f.write(b"not a parquet file" * 64)
    with pytest.raises(Exception, match=re.escape(os.path.basename(history_file))):
        main([*args, "--as-of", "2025-10-27T13:30:00"])
    assert _data_files(out_dir) == [history_file]


def test_cli_history_type_mismatch_fails_the_run(spark, tmp_path):
    """The history is read with the declared OPTIONS_CHAIN schema, not
    an inferred one: a history file whose column type disagrees with
    it fails the run, and nothing is appended."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = str(tmp_path / "chain")
    args = ["--config", "hourly", "--source", "synthetic", "--output", out_dir]
    assert main([*args, "--as-of", "2025-10-27T12:30:00"]) == 0
    (history_file,) = _data_files(out_dir)
    t = pq.read_table(history_file)
    pq.write_table(t.set_column(t.schema.get_field_index("OI"), "OI",
                                t.column("OI").cast(pa.string())), history_file)
    with pytest.raises(Exception, match=re.escape(os.path.basename(history_file))):
        main([*args, "--as-of", "2025-10-27T13:30:00"])
    assert _data_files(out_dir) == [history_file]
