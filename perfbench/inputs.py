"""Seeded inputs for the hourly workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical landed ticker files and history parquet files. Nothing
imports Spark or the package, so the inputs (and the model in
``model.py``) stay independent of the program under test.

World model, one ETH option chain observed hourly:

* spot follows a log Ornstein-Uhlenbeck walk around 3200 with 0.75 %
  hourly volatility (about 70 % a year), so strikes cross the ±7 %
  band edge from hour to hour;
* strikes sit on a fixed absolute grid (multiples of 25) and an hour
  lists those within ±30 % of spot, over about 12 expiries (dailies,
  Fridays, month-end Fridays), about 2k tickers per hour;
* a small share of the FIXTURES.md §1 malformed rows is mixed in:
  null or empty symbol, zero strike, short symbol, bad expiry token,
  and a later duplicate of an in-band symbol (keep-last must win).
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import zlib

FIRST_OP_HOUR = dt.datetime(2025, 11, 3, 0, 30)  # as-of of the first appended hour
SPOT_CENTRE = 3200.0
HOURLY_VOL = 0.0075
MEAN_REVERSION = 0.002
STRIKE_STEP = 25
LISTED_WIDTH = 0.30
BAND_PCT = 7.0            # the hourly config's strike band
LADDER = 3                # the hourly config's E0-E2 ladder
MALFORMED_SHARE = 0.01

# Column order and types of the files append_snapshot writes (the
# partition column Date lives in the directory name).
HISTORY_COLUMNS = ["SYMBOL", "Time", "Future_Price", "Expiry_Date", "Strike",
                   "Option_Type", "Close", "OI", "Open", "OI_Change"]


def hours(first: dt.datetime, n: int) -> list[dt.datetime]:
    return [first + dt.timedelta(hours=i) for i in range(n)]


def spot_path(seed: int, n_history: int, n_ops: int) -> dict[dt.datetime, float]:
    """Spot (2 decimals) for every hour from the oldest history hour to
    the last op hour. The walk starts at the oldest hour, so the same
    seed gives the same op-hour spots only for the same history depth."""
    rng = random.Random(f"spot/{seed}/{n_history}")
    first = FIRST_OP_HOUR - dt.timedelta(hours=n_history)
    x, mu = math.log(SPOT_CENTRE), math.log(SPOT_CENTRE)
    out = {}
    for h in hours(first, n_history + n_ops):
        out[h] = round(math.exp(x), 2)
        x += MEAN_REVERSION * (mu - x) + HOURLY_VOL * rng.gauss(0.0, 1.0)
    return out


def listed_expiries(as_of: dt.datetime) -> list[dt.date]:
    """Expiries listed at ``as_of``: today's daily until it settles at
    08:00, the next three dailies, the next five Fridays and the last
    Friday of each of the next four months."""
    d = as_of.date()
    out = {d + dt.timedelta(days=k) for k in (1, 2, 3)}
    if as_of.hour < 8:
        out.add(d)
    fri = d + dt.timedelta(days=(4 - d.weekday()) % 7 or 7)
    out.update(fri + dt.timedelta(weeks=k) for k in range(5))
    y, m = d.year, d.month
    for _ in range(4):
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
        last = dt.date(y + (m == 12), m % 12 + 1, 1) - dt.timedelta(days=1)
        out.add(last - dt.timedelta(days=(last.weekday() - 4) % 7))
    return sorted(out)


def listed_strikes(spot: float) -> list[int]:
    lo = math.ceil(spot * (1 - LISTED_WIDTH) / STRIKE_STEP) * STRIKE_STEP
    hi = math.floor(spot * (1 + LISTED_WIDTH) / STRIKE_STEP) * STRIKE_STEP
    return list(range(lo, hi + 1, STRIKE_STEP))


def symbol(kind: str, strike: int, expiry: dt.date) -> str:
    return f"{kind}-ETH-{strike}-{expiry.strftime('%d%m%y')}"


def _mark(rng: random.Random, kind: str, strike: int, spot: float, days: float) -> float:
    intrinsic = max(0.0, spot - strike) if kind == "C" else max(0.0, strike - spot)
    width = 0.7 * math.sqrt(max(days, 0.05) / 365.0)
    tv = spot * 0.4 * width * math.exp(-((math.log(strike / spot) / width) ** 2) / 2)
    return round(max(0.1, intrinsic + tv * (1 + 0.05 * rng.uniform(-1, 1))), 2)


def _oi(rng: random.Random, sym: str) -> int:
    return max(0, zlib.crc32(sym.encode()) % 4000 + rng.randint(-60, 60))


def chain_rows(seed: int, as_of: dt.datetime, spot: float) -> list[dict]:
    """Clean REST-shaped rows of one hour's chain, in landing order."""
    rng = random.Random(f"chain/{seed}/{as_of.isoformat()}")
    rows = []
    for exp in listed_expiries(as_of):
        days = (dt.datetime.combine(exp, dt.time(8)) - as_of).total_seconds() / 86400
        for k in listed_strikes(spot):
            for kind, ct in (("C", "call_options"), ("P", "put_options")):
                sym = symbol(kind, k, exp)
                rows.append({
                    "symbol": sym, "contract_type": ct,
                    "strike_price": str(k), "spot_price": f"{spot:.2f}",
                    "mark_price": f"{_mark(rng, kind, k, spot, days):.2f}",
                    "oi_contracts": str(_oi(rng, sym)),
                })
    return rows


def landed_rows(seed: int, as_of: dt.datetime, spot: float) -> list[dict]:
    """One hour's landed payload: the chain plus malformed rows and
    missing mark/OI cells, shuffled into landing order."""
    rows = chain_rows(seed, as_of, spot)
    rng = random.Random(f"landed/{seed}/{as_of.isoformat()}")
    for r in rng.sample(rows, max(1, len(rows) // 400)):
        r["mark_price" if rng.random() < 0.5 else "oi_contracts"] = None
    rng.shuffle(rows)
    exp = listed_expiries(as_of)[0]
    lo, hi = spot * (1 - BAND_PCT / 100), spot * (1 + BAND_PCT / 100)
    in_band = [r for r in rows if lo <= float(r["strike_price"]) <= hi]
    spot_s = f"{spot:.2f}"
    n_bad = max(6, int(len(rows) * MALFORMED_SHARE))
    for i in range(n_bad):
        kind = i % 6
        k = rng.choice(listed_strikes(spot))
        base = {"contract_type": "call_options", "strike_price": str(k),
                "spot_price": spot_s, "mark_price": "1.00", "oi_contracts": "1"}
        if kind == 0:
            bad = {**base, "symbol": None if rng.random() < 0.5 else ""}
        elif kind == 1:
            bad = {**base, "symbol": symbol("C", 0, exp), "strike_price": "0"}
        elif kind == 2:
            bad = {**base, "symbol": f"ETH-{k}"}
        elif kind == 3:
            tok = exp.strftime("%d%m") if rng.random() < 0.5 else exp.strftime("%d%b").upper() + "5"
            bad = {**base, "symbol": f"C-ETH-{k}-{tok}"}
        else:
            # duplicate of an in-band symbol with other mark/OI, landed
            # after the original: keep-last dedup must return this one
            orig = rng.choice(in_band)
            bad = {**orig, "mark_price": f"{rng.uniform(1, 500):.2f}",
                   "oi_contracts": str(rng.randint(0, 9999))}
            rows.remove(orig)
            at = rng.randint(0, len(rows))
            rows.insert(at, orig)
            rows.insert(rng.randint(at + 1, len(rows)), bad)
            continue
        rows.insert(rng.randint(0, len(rows)), bad)
    return rows


def write_landed(path: str, rows: list[dict]) -> None:
    """One JSONL file per hour, keys in TICKER_RAW order."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "tickers.jsonl"), "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")


def read_landed(path: str) -> list[dict]:
    with open(os.path.join(path, "tickers.jsonl"), encoding="utf-8") as f:
        return [json.loads(line) for line in f]


def history_snapshots(seed: int, n_history: int, spots: dict[dt.datetime, float]) -> list[list[dict]]:
    """The ``n_history`` hourly snapshots before the first op, oldest
    first, shaped as the pipeline appends them from clean landings:
    E0-E2 expiries, strikes inside the ±7 % band, rows in append order
    (Expiry_Date, SYMBOL), Open/OI_Change from the previous snapshot.
    Only the rows that survive are generated, so 90 days seed in
    seconds."""
    first = FIRST_OP_HOUR - dt.timedelta(hours=n_history)
    prev: dict[str, dict] = {}
    out = []
    for h in hours(first, n_history):
        rng = random.Random(f"history/{seed}/{h.isoformat()}")
        spot = spots[h]
        lo, hi = spot * (1 - BAND_PCT / 100), spot * (1 + BAND_PCT / 100)
        strikes = [k for k in listed_strikes(spot) if lo <= k <= hi]
        targets = [e for e in listed_expiries(h) if e >= h.date()][:LADDER]
        snap = []
        for exp in targets:
            days = (dt.datetime.combine(exp, dt.time(8)) - h).total_seconds() / 86400
            for k in strikes:
                for kind, opt in (("C", "Call"), ("P", "Put")):
                    sym = symbol(kind, k, exp)
                    close, oi = _mark(rng, kind, k, spot, days), _oi(rng, sym)
                    p = prev.get(sym)
                    snap.append({
                        "SYMBOL": sym, "Date": h.date(), "Time": h, "Future_Price": spot,
                        "Expiry_Date": exp, "Strike": float(k), "Option_Type": opt,
                        "Close": close, "OI": oi,
                        "Open": p["Close"] if p else 0.0,
                        "OI_Change": oi - p["OI"] if p else 0,
                    })
        snap.sort(key=lambda r: (r["Expiry_Date"], r["SYMBOL"]))
        prev = {r["SYMBOL"]: r for r in snap}
        out.append(snap)
    return out


def history_files(snapshots: list[list[dict]], seed: int) -> list[tuple[str, str, object]]:
    """The seeded table's files as (partition dir, file name, arrow
    table), in the layout append_snapshot writes: ``Date=`` partitions,
    one snappy parquet file per snapshot, rows sorted by SYMBOL."""
    import pyarrow as pa

    schema = pa.schema([
        ("SYMBOL", pa.string()), ("Time", pa.timestamp("us", tz="UTC")),
        ("Future_Price", pa.float64()), ("Expiry_Date", pa.date32()),
        ("Strike", pa.float64()), ("Option_Type", pa.string()),
        ("Close", pa.float64()), ("OI", pa.int64()),
        ("Open", pa.float64()), ("OI_Change", pa.int64()),
    ])
    rng = random.Random(f"files/{seed}")
    out = []
    for snap in snapshots:
        rows = sorted(snap, key=lambda r: r["SYMBOL"])
        cols = {c: [r[c] for r in rows] for c in HISTORY_COLUMNS}
        cols["Time"] = [t.replace(tzinfo=dt.timezone.utc) for t in cols["Time"]]
        out.append((f"Date={snap[0]['Date'].isoformat()}",
                    f"part-00000-{rng.getrandbits(128):032x}.c000.snappy.parquet",
                    pa.table(cols, schema=schema)))
    return out


def write_history(table: str, files: list[tuple[str, str, object]]) -> None:
    import pyarrow.parquet as pq

    for part, name, data in files:
        os.makedirs(os.path.join(table, part), exist_ok=True)
        pq.write_table(data, os.path.join(table, part, name), compression="snappy")
