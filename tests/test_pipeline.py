"""Reference-domain pipeline tests on synthetic REST-shaped tickers
(FIXTURES.md §1 edge cases; semantics citations into /root/reference)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.pipeline import HOURLY, WEEKLY, run, snapshot
from eth_options_data_pipeline_spark.schemas import OPTIONS_CHAIN_COLUMNS, TICKER_RAW
from eth_options_data_pipeline_spark.sources import synthetic_tickers

AS_OF = dt.datetime(2025, 10, 27, 12, 30, 0)  # a Monday


@pytest.fixture(scope="module")
def tickers(spark):
    return synthetic_tickers(spark, AS_OF.date()).cache()


def test_snapshot_schema_and_rows(spark, tickers):
    snap = snapshot(tickers, HOURLY, AS_OF)
    assert [f for f in snap.columns if f != "_ingest_order"] == OPTIONS_CHAIN_COLUMNS
    assert snap.count() > 0


def test_edge_rows_rejected(spark, tickers):
    """Falsy/malformed rows (null/empty symbol, zero strike, short or
    non-numeric expiry token, null contract_type/spot) never survive
    (main.py:164-190)."""
    snap = snapshot(tickers, HOURLY, AS_OF)
    syms = [r["SYMBOL"] for r in snap.select("SYMBOL").collect()]
    assert None not in syms and "" not in syms
    assert "ETH-3200" not in syms
    assert "C-ETH-3200-3110" not in syms
    assert "C-ETH-3200-31OCT5" not in syms
    assert all(s.split("-")[2] != "0" for s in syms)  # zero strike rejected


def test_keep_last_dedup_wins(spark, tickers):
    """Duplicate symbol: the LAST occurrence's values win
    (drop_duplicates keep='last', main.py:233)."""
    snap = snapshot(tickers, HOURLY, AS_OF)
    dup_sym = "C-ETH-3200-281025"  # planted duplicate (expiries[0] = as_of+1)
    row = snap.where(F.col("SYMBOL") == dup_sym).collect()
    assert len(row) == 1
    assert row[0]["Close"] == 111.11 and row[0]["OI"] == 999


def test_strike_band_hourly_vs_weekly(spark, tickers):
    """±7% (hourly) vs ±25% (weekly) strike bands (main.py:120-121 /
    deltaweekly.py:152-153)."""
    h = snapshot(tickers, HOURLY, AS_OF)
    w = snapshot(tickers, WEEKLY, AS_OF)
    h_minmax = h.agg(F.min("Strike"), F.max("Strike")).collect()[0]
    w_minmax = w.agg(F.min("Strike"), F.max("Strike")).collect()[0]
    assert h_minmax[0] >= 3200 * 0.93 and h_minmax[1] <= 3200 * 1.07
    assert w_minmax[0] >= 3200 * 0.75 and w_minmax[1] <= 3200 * 1.25
    assert w_minmax[0] < h_minmax[0]  # weekly band is strictly wider here


def test_hourly_expiry_ladder_is_top3(spark, tickers):
    """E0/E1/E2 = first three distinct future expiries (main.py:43-80)."""
    snap = snapshot(tickers, HOURLY, AS_OF)
    got = sorted(r["Expiry_Date"] for r in snap.select("Expiry_Date").distinct().collect())
    d = AS_OF.date()
    d3 = d + dt.timedelta(days=3)
    fri1 = d3 + dt.timedelta(days=(4 - d3.weekday()) % 7)
    assert got == [d + dt.timedelta(days=1), d + dt.timedelta(days=2), fri1]


def test_weekly_ladder_w1_w2(spark, tickers):
    """W1 = first Friday with >=2 active expiries before it; W2 = next
    Friday (deltaweekly.py:68-94). Ladder has two non-Friday dailies
    before the first Friday, so W1 = first Friday."""
    snap = snapshot(tickers, WEEKLY, AS_OF)
    got = sorted(r["Expiry_Date"] for r in snap.select("Expiry_Date").distinct().collect())
    d3 = AS_OF.date() + dt.timedelta(days=3)
    fri1 = d3 + dt.timedelta(days=(4 - d3.weekday()) % 7)
    assert got == [fri1, fri1 + dt.timedelta(days=7)]


def test_open_oi_change_join(spark, tickers):
    """Open = prev Close, OI_Change = OI - prev OI; miss -> 0/0
    (main.py:290-308)."""
    first = run(tickers, None, HOURLY, AS_OF)
    assert first.where((F.col("Open") != 0) | (F.col("OI_Change") != 0)).count() == 0

    later = AS_OF + dt.timedelta(hours=1)
    second = run(tickers, first, HOURLY, later)
    # same ticker batch -> every symbol matches: Open == prev Close, OI_Change == 0
    joined = second.alias("cur").join(
        first.select("SYMBOL", F.col("Close").alias("prev_close")).alias("prev"), "SYMBOL"
    )
    bad = joined.where(
        (F.col("Open") != F.col("prev_close")) | (F.col("OI_Change") != 0)
    ).count()
    assert bad == 0


def test_join_vs_replay_equivalence(spark, tickers):
    """The incremental join form and the lag()-replay form derive the
    same Open/OI_Change (SURVEY §7 build plan step 3 cross-check)."""
    from eth_options_data_pipeline_spark.operators.snapshot import replay_open_oi_change

    t0 = run(tickers, None, HOURLY, AS_OF)
    t1 = run(tickers, t0, HOURLY, AS_OF + dt.timedelta(hours=1))
    log = t0.select(*OPTIONS_CHAIN_COLUMNS).unionByName(t1.select(*OPTIONS_CHAIN_COLUMNS))
    replayed = replay_open_oi_change(log.drop("Open", "OI_Change"))
    # compare the t1 snapshot rows
    r1 = replayed.where(F.col("Time") == (AS_OF + dt.timedelta(hours=1)))
    cmp = t1.select("SYMBOL", "Open", "OI_Change").exceptAll(
        r1.select("SYMBOL", "Open", "OI_Change")
    )
    assert cmp.count() == 0


def test_empty_input_degrades_to_empty(spark):
    """Error-degradation contract: empty source -> empty output, not an
    exception (main.py:109,147,230,250; SURVEY §7.4 trap 9)."""
    empty = spark.createDataFrame([], TICKER_RAW)
    out = run(empty, None, HOURLY, AS_OF)
    assert out.count() == 0
    assert out.columns == OPTIONS_CHAIN_COLUMNS


def test_empty_history_equals_no_history(spark, tickers):
    """run(tickers, <0-row history>) == run(tickers, None): the state
    join against nothing must default Open/OI_Change to 0, not crash or
    drop rows (reference returns empty frames on failed stages and
    downstream keeps working — main.py:369-371)."""
    none_out = run(tickers, None, HOURLY, AS_OF)
    schema = none_out.schema
    empty_hist = spark.createDataFrame([], schema)
    empty_out = run(tickers, empty_hist, HOURLY, AS_OF)
    assert none_out.exceptAll(empty_out).count() == 0
    assert empty_out.exceptAll(none_out).count() == 0


def test_empty_input_appends_cleanly(spark, tmp_path):
    """Zero fetched rows -> clean (no-op) append and a next run that
    still works — no crash, no state corruption (trap 9)."""
    from eth_options_data_pipeline_spark.sinks import append_snapshot, read_history

    empty = spark.createDataFrame([], TICKER_RAW)
    out = run(empty, None, HOURLY, AS_OF)
    path = str(tmp_path / "chain")
    append_snapshot(out, path)  # writes no data files; must not raise

    # cold-start guard: unreadable/empty history -> None -> normal run
    try:
        history = read_history(spark, path)
        history.first()
    except Exception:
        history = None
    ticks = synthetic_tickers(spark, AS_OF.date())
    out2 = run(ticks, history, HOURLY, AS_OF + dt.timedelta(hours=1))
    assert out2.count() > 0
    assert out2.where((F.col("Open") != 0) | (F.col("OI_Change") != 0)).count() == 0


def test_tail_cut_inside_snapshot_matches_dict_model(spark):
    """The 300-row state bound cuts INSIDE a snapshot: (Date, Time)
    ties there, and the reference's tail(300) keeps the LAST rows in
    append order — (Date, Time), then each run's pre-append sort
    (Expiry_Date, SYMBOL). Open/OI_Change must equal a keep-last dict
    over exactly those rows (main.py:260,279-308). The history is one
    partition in ascending append order, so a tail ordered on
    (Date, Time) alone keeps the FIRST rows of the cut snapshot."""
    from eth_options_data_pipeline_spark.operators.snapshot import derive_open_oi_change, tail_n
    from eth_options_data_pipeline_spark.schemas import OPTIONS_CHAIN

    day = AS_OF.date()
    expiries = [day + dt.timedelta(days=n) for n in (1, 2)]
    t_old, t_new = AS_OF - dt.timedelta(hours=2), AS_OF - dt.timedelta(hours=1)

    def row(kind, i, exp, time, close, oi):
        sym = f"{kind}-ETH-{3000 + 10 * i}-{exp:%d%m%y}"
        return (sym, day, time, 3200.0, exp, 3000.0 + 10 * i, "Call", close, oi, 0.0, 0)

    # snapshot at t_old: 200 calls over two expiries; at t_new: 200 puts.
    # The last 300 rows are all puts plus the 100 later-expiry calls.
    old = [row("C", i, exp, t_old, 1.0 + i + 1000 * e, 10 * i + e)
           for e, exp in enumerate(expiries) for i in range(100)]
    new = [row("P", i, exp, t_new, 5.0 + i + 1000 * e, 20 * i + e)
           for e, exp in enumerate(expiries) for i in range(100)]
    log = sorted(old + new, key=lambda r: (r[1], r[2], r[4], r[0]))
    history = spark.createDataFrame(log, OPTIONS_CHAIN).coalesce(1)

    state = {}
    for r in log[-300:]:
        state[r[0]] = r
    current = [(r[0], 7 * n) for n, r in enumerate(old + new)]
    want = {sym: ((state[sym][7], oi - state[sym][8]) if sym in state else (0.0, 0))
            for sym, oi in current}
    assert sum(1 for v in want.values() if v == (0.0, 0)) == 100  # the cut lands mid-snapshot

    cur = spark.createDataFrame(current, "SYMBOL string, OI long")
    got = {r["SYMBOL"]: (r["Open"], r["OI_Change"])
           for r in derive_open_oi_change(cur, tail_n(history, 300)).collect()}
    assert got == want
