"""Pure-Python model of one hourly run, and the per-op output check.

The model restates the reference semantics (FIXTURES.md §1-§3) without
Spark: falsy guards, DDMMYY expiry parse, the E0-E2 ladder over the
guarded rows, the per-row ±7 % strike band, keep-last dedup in landing
order, and Open / OI_Change from a dict over the last 300 history rows
in *append order* — (Date, Time), then the pre-append sort on
(Expiry_Date, SYMBOL) — where the latest occurrence of a symbol wins.

``check_op`` compares what the program appended for one hour with the
model. A mismatch in Open / OI_Change is *explained by a tail tie*
when the 300-row boundary cuts a snapshot, the symbol's only candidate
previous row sits in that cut snapshot, and the program's values equal
either that row's or the no-previous-row defaults: a tail ordered by
(Date, Time) alone may keep any rows of the cut snapshot. Such an op
still fails the strict check (it counts against ``ok_rate`` and its
symbols are recorded); any other difference is a hard failure.
"""

from __future__ import annotations

import datetime as dt

OUTPUT_COLUMNS = ["SYMBOL", "Date", "Time", "Future_Price", "Expiry_Date", "Strike",
                  "Option_Type", "Close", "OI", "Open", "OI_Change"]
STATE_TAIL = 300


def _num(v, cast):
    try:
        return cast(v)
    except (TypeError, ValueError):
        return None


def parse_expiry(sym: str) -> dt.date | None:
    tok = sym.split("-")[-1]
    if len(tok) != 6 or not tok.isdigit():
        return None
    try:
        return dt.date(2000 + int(tok[4:6]), int(tok[2:4]), int(tok[0:2]))
    except ValueError:
        return None


def snapshot(rows: list[dict], as_of: dt.datetime, pct: float = 7.0, ladder: int = 3) -> list[dict]:
    """The run's rows before the history join, in append order."""
    parsed = []
    for order, r in enumerate(rows):
        sym, ct = r.get("symbol"), r.get("contract_type")
        strike, spot = _num(r.get("strike_price"), float), _num(r.get("spot_price"), float)
        if not sym or not ct or not strike or not spot:
            continue
        close = _num(r.get("mark_price"), float)
        oi = _num(r.get("oi_contracts"), int)
        parsed.append({
            "order": order, "SYMBOL": sym, "Expiry_Date": parse_expiry(sym),
            "Strike": strike, "Future_Price": spot,
            "Option_Type": "Call" if ct == "call_options" else "Put",
            "Close": 0.0 if close is None else close, "OI": 0 if oi is None else oi,
        })
    expiries = sorted({p["Expiry_Date"] for p in parsed if p["Expiry_Date"] is not None})
    future = [e for e in expiries if e >= as_of.date()]
    targets = set(future[:ladder] if future else expiries[-1:])
    lo_f, hi_f = 1 - pct / 100.0, 1 + pct / 100.0
    last: dict[str, dict] = {}
    for p in parsed:
        if (p["Expiry_Date"] in targets
                and p["Future_Price"] * lo_f <= p["Strike"] <= p["Future_Price"] * hi_f):
            last[p["SYMBOL"]] = p  # landing order: the later row wins
    out = [{
        "SYMBOL": p["SYMBOL"], "Date": as_of.date(), "Time": as_of,
        "Future_Price": p["Future_Price"], "Expiry_Date": p["Expiry_Date"],
        "Strike": p["Strike"], "Option_Type": p["Option_Type"],
        "Close": p["Close"], "OI": p["OI"], "Open": 0.0, "OI_Change": 0,
    } for p in last.values()]
    out.sort(key=lambda r: (r["Expiry_Date"], r["SYMBOL"]))
    return out


def _prev_values(cur: dict, prev: dict | None) -> tuple[float, int]:
    if prev is None:
        return 0.0, 0
    close = prev["Close"] if prev["Close"] is not None else 0.0
    oi = prev["OI"] if prev["OI"] is not None else 0
    return close, cur["OI"] - oi


class Expectation:
    """The model's rows for one op plus the values a (Date, Time)-only
    tail could legitimately give instead, per ambiguous symbol."""

    def __init__(self, rows: list[dict], tie_alternatives: dict[str, set]):
        self.rows = rows
        self.tie_alternatives = tie_alternatives


def expect(rows: list[dict], history: list[list[dict]], as_of: dt.datetime) -> Expectation:
    """Model one run against ``history`` (snapshots oldest first, each
    in append order)."""
    snap = snapshot(rows, as_of)
    tail: list[dict] = []
    cut: list[dict] = []  # the snapshot the 300-row boundary cuts, if any
    for s in reversed(history):
        room = STATE_TAIL - len(tail)
        if room <= 0:
            break
        if len(s) > room:
            cut = s
        tail = s[-room:] + tail
    latest = {r["SYMBOL"]: r for r in tail}  # append order: the latest wins
    whole = {r["SYMBOL"] for r in tail if not cut or r["Time"] != cut[0]["Time"]}
    in_cut = {r["SYMBOL"]: r for r in cut}
    tie_alternatives = {}
    for r in snap:
        r["Open"], r["OI_Change"] = _prev_values(r, latest.get(r["SYMBOL"]))
        if r["SYMBOL"] in in_cut and r["SYMBOL"] not in whole:
            tie_alternatives[r["SYMBOL"]] = {
                _prev_values(r, in_cut[r["SYMBOL"]]), _prev_values(r, None)}
    return Expectation(snap, tie_alternatives)


def check_op(exp: Expectation, got: list[dict]) -> dict:
    """Compare the appended rows of one op with the model.

    Returns ``{"ok": strict match, "hard": [symbols wrong beyond the
    tail tie], "tail_tie": [symbols whose Open/OI_Change differ only
    as a tail tie allows]}``."""
    want = {r["SYMBOL"]: r for r in exp.rows}
    have = {r["SYMBOL"]: r for r in got}
    hard = sorted(set(want) ^ set(have), key=str)
    if len(got) != len(have):
        hard.append("<duplicate rows>")
    tie = []
    for sym in sorted(set(want) & set(have)):
        w, h = want[sym], have[sym]
        if any(w[c] != h[c] for c in OUTPUT_COLUMNS if c not in ("Open", "OI_Change")):
            hard.append(sym)
        elif (w["Open"], w["OI_Change"]) != (h["Open"], h["OI_Change"]):
            if (h["Open"], h["OI_Change"]) in exp.tie_alternatives.get(sym, ()):
                tie.append(sym)
            else:
                hard.append(sym)
    return {"ok": not hard and not tie, "hard": hard, "tail_tie": tie}
