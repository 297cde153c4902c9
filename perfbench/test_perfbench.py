"""Self-tests of the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import filecmp
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import measure  # noqa: E402
import model  # noqa: E402
import spans  # noqa: E402

AS_OF = dt.datetime(2025, 10, 27, 12, 30)  # the fixture tests' Monday


def _land(root, seed, n_hours=3):
    spots = inputs.spot_path(seed, 24, n_hours)
    for h in inputs.hours(inputs.FIRST_OP_HOUR, n_hours):
        inputs.write_landed(os.path.join(root, "landed", h.strftime("%H")),
                            inputs.landed_rows(seed, h, spots[h]))
    history = inputs.history_snapshots(seed, 24, spots)
    inputs.write_history(os.path.join(root, "table"), inputs.history_files(history, seed))


def _same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_same_seed_gives_identical_inputs(tmp_path):
    for run in ("a", "b"):
        _land(str(tmp_path / run), seed=7)
    _land(str(tmp_path / "other"), seed=8)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "other"))


def test_landings_carry_malformed_rows_and_about_2k_tickers():
    spots = inputs.spot_path(1, 24, 1)
    rows = inputs.landed_rows(1, inputs.FIRST_OP_HOUR, spots[inputs.FIRST_OP_HOUR])
    syms = [r["symbol"] for r in rows]
    assert 1500 < len(rows) < 3000
    assert None in syms or "" in syms
    assert any(s and s.count("-") == 1 for s in syms)                   # short symbol
    assert any(r["strike_price"] == "0" for r in rows)                  # zero strike
    assert len({s for s in syms if s}) < len([s for s in syms if s])    # duplicates
    assert 10 <= len(inputs.listed_expiries(inputs.FIRST_OP_HOUR)) <= 14


class _RowsOnly:
    """Stands in for a SparkSession: synthetic_tickers builds its rows
    in Python and hands them to createDataFrame."""

    def createDataFrame(self, rows, schema):
        return [dict(zip(schema.fieldNames(), r)) for r in rows]


@pytest.fixture(scope="module")
def fixture_rows():
    from eth_options_data_pipeline_spark.sources import synthetic_tickers

    return synthetic_tickers(_RowsOnly(), AS_OF.date())


def test_model_reproduces_synthetic_fixture_expectations(fixture_rows):
    """The expectations tests/test_pipeline.py asserts of the Spark
    pipeline on the same fixture hold for the model."""
    snap = model.snapshot(fixture_rows, AS_OF)
    syms = {r["SYMBOL"] for r in snap}
    assert {None, "", "ETH-3200", "C-ETH-3200-3110", "C-ETH-3200-31OCT5"}.isdisjoint(syms)
    assert all(s.split("-")[2] != "0" for s in syms)
    dup = [r for r in snap if r["SYMBOL"] == "C-ETH-3200-281025"]
    assert len(dup) == 1 and dup[0]["Close"] == 111.11 and dup[0]["OI"] == 999
    assert min(r["Strike"] for r in snap) >= 3200 * 0.93
    assert max(r["Strike"] for r in snap) <= 3200 * 1.07
    d = AS_OF.date()
    d3 = d + dt.timedelta(days=3)
    fri1 = d3 + dt.timedelta(days=(4 - d3.weekday()) % 7)
    assert sorted({r["Expiry_Date"] for r in snap}) == [d + dt.timedelta(days=1),
                                                      d + dt.timedelta(days=2), fri1]

    first = model.expect(fixture_rows, [], AS_OF).rows
    assert all(r["Open"] == 0.0 and r["OI_Change"] == 0 for r in first)
    later = AS_OF + dt.timedelta(hours=1)
    second = model.expect(fixture_rows, [first], later).rows
    prev = {r["SYMBOL"]: r for r in first}
    assert all(r["Open"] == prev[r["SYMBOL"]]["Close"] and r["OI_Change"] == 0 for r in second)


def _snap(hour: int, symbols, close: float):
    t = dt.datetime(2025, 1, 1, hour)
    return [{"SYMBOL": s, "Date": t.date(), "Time": t, "Close": close, "OI": 10} for s in symbols]


def test_tail_tie_is_recorded_not_hidden(monkeypatch):
    """A tail that cuts a snapshot makes that snapshot's rows ambiguous;
    a tie-permitted answer fails the strict check but is told apart
    from a hard mismatch."""
    call, put = "C-ETH-100-020125", "P-ETH-100-020125"
    monkeypatch.setattr(model, "STATE_TAIL", 3)
    old = _snap(1, [call, "Y", "X"], 1.0)  # cut: only "X" is in the append-order tail
    new = _snap(2, [put, "D"], 2.0)
    rows = [{"symbol": s, "contract_type": "call_options", "strike_price": "100",
             "spot_price": "100", "mark_price": "5", "oi_contracts": "12"} for s in (call, put)]
    exp = model.expect(rows, [old, new], dt.datetime(2025, 1, 1, 3))
    assert exp.tie_alternatives == {call: {(1.0, 2), (0.0, 0)}}
    got = [dict(r) for r in exp.rows]
    by = {r["SYMBOL"]: r for r in got}
    assert (by[call]["Open"], by[put]["Open"], by[put]["OI_Change"]) == (0.0, 2.0, 2)
    assert model.check_op(exp, got) == {"ok": True, "hard": [], "tail_tie": []}
    by[call]["Open"], by[call]["OI_Change"] = 1.0, 2
    assert model.check_op(exp, got) == {"ok": False, "hard": [], "tail_tie": [call]}
    by[put]["Open"] = 9.0
    assert model.check_op(exp, got)["hard"] == [put]


@pytest.mark.parametrize("n", [11, 12, 20, 40, 101])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    xs = [float((i * 7919) % n) for i in range(n)]  # a permutation of 0..n-1
    value, pct = measure.tail(xs)
    assert sum(1 for x in xs if x > value) == measure.TAIL_BEYOND
    assert pct == 100 * (n - 10) // n
    assert n * (100 - pct) / 100 >= 10


def test_tail_needs_eleven_samples():
    assert measure.tail([1.0] * 10) is None


def test_tracer_records_nested_spans_and_self_time(monkeypatch):
    """Every package-module reference is rerouted; spans nest by call,
    carry the op id, and self time excludes child spans."""
    import types

    mod = types.ModuleType(f"{spans.PACKAGE}.fake_layer")
    other = types.ModuleType(f"{spans.PACKAGE}.fake_caller")

    def inner():
        return 1

    def outer():
        return mod.inner() + 1

    inner.__module__ = outer.__module__ = mod.__name__
    mod.inner, mod.outer, other.outer = inner, outer, outer
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    monkeypatch.setitem(sys.modules, other.__name__, other)
    t = spans.Tracer()
    t.wrap_module(mod, "fake_layer")
    assert other.outer() == 2 and t.spans == []  # disabled: a plain pass-through
    t.op, t.enabled = 7, True
    assert other.outer() == 2
    by = {s["name"]: s for s in t.spans}
    assert set(by) == {"fake_layer.outer", "fake_layer.inner"}
    assert by["fake_layer.inner"]["parent"] == by["fake_layer.outer"]["id"]
    assert {s["op"] for s in t.spans} == {7}
    own = spans.self_times(t.spans)["fake_layer"]
    outer_s = by["fake_layer.outer"]["end"] - by["fake_layer.outer"]["start"]
    assert abs(own - outer_s) < 1e-9  # inner's time is counted once, inside outer
