"""Reference-domain pipeline tests on synthetic REST-shaped tickers
(FIXTURES.md §1 edge cases; semantics citations into /root/reference)."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.pipeline import HOURLY, WEEKLY, run
from eth_options_data_pipeline_spark.schemas import OPTIONS_CHAIN, TICKER_RAW
from eth_options_data_pipeline_spark.sources import synthetic_tickers

AS_OF = dt.datetime(2025, 10, 27, 12, 30, 0)  # a Monday


@pytest.fixture(scope="module")
def tickers(spark):
    return synthetic_tickers(spark, AS_OF.date()).cache()


def test_snapshot_schema_and_rows(spark, tickers):
    snap = run(tickers, None, HOURLY, AS_OF)
    assert [f for f in snap.columns if f != "_ingest_order"] == OPTIONS_CHAIN.fieldNames()
    assert snap.count() > 0


def test_edge_rows_rejected(spark, tickers):
    """Falsy/malformed rows (null/empty symbol, zero strike, short or
    non-numeric expiry token, null contract_type/spot) never survive
    (main.py:164-190)."""
    snap = run(tickers, None, HOURLY, AS_OF)
    syms = [r["SYMBOL"] for r in snap.select("SYMBOL").collect()]
    assert None not in syms and "" not in syms
    assert "ETH-3200" not in syms
    assert "C-ETH-3200-3110" not in syms
    assert "C-ETH-3200-31OCT5" not in syms
    assert all(s.split("-")[2] != "0" for s in syms)  # zero strike rejected


def test_keep_last_dedup_wins(spark, tickers):
    """Duplicate symbol: the LAST occurrence's values win
    (drop_duplicates keep='last', main.py:233)."""
    snap = run(tickers, None, HOURLY, AS_OF)
    dup_sym = "C-ETH-3200-281025"  # planted duplicate (expiries[0] = as_of+1)
    row = snap.where(F.col("SYMBOL") == dup_sym).collect()
    assert len(row) == 1
    assert row[0]["Close"] == 111.11 and row[0]["OI"] == 999


def test_strike_band_hourly_vs_weekly(spark, tickers):
    """±7% (hourly) vs ±25% (weekly) strike bands (main.py:120-121 /
    deltaweekly.py:152-153)."""
    h = run(tickers, None, HOURLY, AS_OF)
    w = run(tickers, None, WEEKLY, AS_OF)
    h_minmax = h.agg(F.min("Strike"), F.max("Strike")).collect()[0]
    w_minmax = w.agg(F.min("Strike"), F.max("Strike")).collect()[0]
    assert h_minmax[0] >= 3200 * 0.93 and h_minmax[1] <= 3200 * 1.07
    assert w_minmax[0] >= 3200 * 0.75 and w_minmax[1] <= 3200 * 1.25
    assert w_minmax[0] < h_minmax[0]  # weekly band is strictly wider here


def test_hourly_expiry_ladder_is_top3(spark, tickers):
    """E0/E1/E2 = first three distinct future expiries (main.py:43-80)."""
    snap = run(tickers, None, HOURLY, AS_OF)
    got = sorted(r["Expiry_Date"] for r in snap.select("Expiry_Date").distinct().collect())
    d = AS_OF.date()
    d3 = d + dt.timedelta(days=3)
    fri1 = d3 + dt.timedelta(days=(4 - d3.weekday()) % 7)
    assert got == [d + dt.timedelta(days=1), d + dt.timedelta(days=2), fri1]


def test_weekly_ladder_w1_w2(spark, tickers):
    """W1 = first Friday with >=2 active expiries before it; W2 = next
    Friday (deltaweekly.py:68-94). Ladder has two non-Friday dailies
    before the first Friday, so W1 = first Friday."""
    snap = run(tickers, None, WEEKLY, AS_OF)
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


def _appearing_drops(seed: int, n_batches: int = 4) -> list[list[tuple]]:
    """Ticker drops over 12 symbols (two expiries x three strikes x
    call/put, all inside the hourly band and ladder), each present in a
    drop with probability 0.7, with seeded marks and open interest."""
    rng = random.Random(seed)
    symbols = [(f"{p}-ETH-{k}-{AS_OF.date() + dt.timedelta(days=d):%d%m%y}", ct, k)
               for d in (1, 2) for k in (3180, 3200, 3220)
               for p, ct in (("C", "call_options"), ("P", "put_options"))]
    return [[(sym, ct, str(k), "3200", f"{rng.uniform(1, 100):.2f}", str(rng.randint(0, 1000)))
             for sym, ct, k in symbols if rng.random() < 0.7]
            for _ in range(n_batches)]


def _tail_fold(drops: list[list[tuple]], state_tail: int) -> list[dict]:
    """Pure-Python reference (main.py:252-308): each drop probes a
    keep-last dict over the last ``state_tail`` rows appended before it,
    then appends its own rows in the reference's order (expiry, then
    symbol). Per drop: SYMBOL -> (Close, OI, Open, OI_Change)."""
    def expiry(sym):
        return dt.datetime.strptime(sym.rsplit("-", 1)[1], "%d%m%y")

    log, out = [], []
    for rows in drops:
        state = {sym: (close, oi) for sym, close, oi in log[-state_tail:]}
        snap = sorted(((r[0], float(r[4]), int(r[5])) for r in rows),
                      key=lambda r: (expiry(r[0]), r[0]))
        out.append({sym: (close, oi, *((state[sym][0], oi - state[sym][1])
                                       if sym in state else (0.0, 0)))
                    for sym, close, oi in snap})
        log += snap
    return out


def _assert_chain_equals_fold(spark, seed, state_tail):
    """Run the CLI chain (``run`` over the accumulated history) drop by
    drop and compare every snapshot with the tail fold."""
    from dataclasses import replace

    config = replace(HOURLY, state_tail=state_tail)
    drops = _appearing_drops(seed)
    want = _tail_fold(drops, state_tail)
    if state_tail < 300:
        assert want != _tail_fold(drops, sum(map(len, drops)))  # the bound bites
    history, log = None, []
    for b, rows in enumerate(drops):
        out = run(spark.createDataFrame(rows, TICKER_RAW), history, config,
                  AS_OF + dt.timedelta(hours=b))
        got = out.collect()
        assert {r.SYMBOL: (r.Close, r.OI, r.Open, r.OI_Change) for r in got} == want[b], b
        log += got
        history = spark.createDataFrame(log, out.schema)


def test_join_vs_replay_equivalence(spark):
    """The incremental join form and a replay of the appended log derive
    the same Open/OI_Change on a randomized appear/disappear history
    (SURVEY §7 build plan step 3 cross-check)."""
    _assert_chain_equals_fold(spark, seed=7, state_tail=300)


@pytest.mark.parametrize("seed, state_tail", [(42, 300), (42, 8)])
def test_open_oi_change_is_a_fold_over_the_tail(spark, seed, state_tail):
    """The CLI chain on randomized appear/disappear histories equals the
    tail fold. At 300 rows the tail holds every earlier drop; at 8 it
    holds less than one drop, so a symbol seen only before the cut comes
    back with the 0 defaults, where a fold over the whole log would
    carry it."""
    _assert_chain_equals_fold(spark, seed, state_tail)


def test_empty_input_degrades_to_empty(spark):
    """Error-degradation contract: empty source -> empty output, not an
    exception (main.py:109,147,230,250; SURVEY §7.4 trap 9)."""
    empty = spark.createDataFrame([], TICKER_RAW)
    out = run(empty, None, HOURLY, AS_OF)
    assert out.count() == 0
    assert out.columns == OPTIONS_CHAIN.fieldNames()


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
