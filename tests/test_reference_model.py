"""Semantic-parity oracle: a ~60-line pandas model of the reference
dataflow (transcribed from the documented semantics in SURVEY.md §2/§3
— independent implementation, not a copy) cross-checked against the
Spark pipeline on the synthetic ticker fixtures.

This is the strongest fidelity evidence we can produce without the
reference's live REST/Sheets environment: same inputs, two independent
implementations, identical outputs.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.pipeline import HOURLY, WEEKLY, PipelineConfig, run
from eth_options_data_pipeline_spark.schemas import TICKER_RAW
from eth_options_data_pipeline_spark.sources import synthetic_tickers

AS_OF = dt.datetime(2025, 10, 27, 12, 30)


def model_pipeline(rows: list[dict], config: PipelineConfig, as_of: dt.datetime) -> pd.DataFrame:
    """Pandas model of one snapshot run (no previous state):
    guard -> parse -> ladder -> band -> dedup-keep-last -> project."""
    as_of_date = as_of.date()
    parsed = []
    for order, r in enumerate(rows):
        sym, ct, strike, spot = r["symbol"], r["contract_type"], r["strike_price"], r["spot_price"]
        # falsy guard (truthiness: rejects None, '', '0'-valued numerics)
        def falsy(v):
            if v is None or v == "":
                return True
            try:
                return float(v) == 0.0
            except (TypeError, ValueError):
                return False
        if not sym or falsy(strike) or not ct or falsy(spot):
            continue
        parts = sym.split("-")
        expiry = None
        if len(parts) >= 4:
            tok = parts[-1]
            if len(tok) == 6 and tok.isdigit():
                try:
                    expiry = dt.date(2000 + int(tok[4:6]), int(tok[2:4]), int(tok[0:2]))
                except ValueError:
                    expiry = None
        parsed.append({
            "order": order, "symbol": sym, "expiry": expiry,
            "strike": float(strike), "spot": float(spot),
            "close": float(r["mark_price"]) if r["mark_price"] is not None else 0.0,
            "oi": int(r["oi_contracts"]) if r["oi_contracts"] is not None else 0,
            "opt_type": "Call" if ct == "call_options" else "Put",
        })
    # expiry ladder over ALL parsed rows
    uniq = sorted({p["expiry"] for p in parsed if p["expiry"] is not None})
    future = [e for e in uniq if e >= as_of_date]
    if config.expiry_policy == "nearest3":
        targets = future[:3] if future else uniq[-1:]
    else:  # friday_w1w2
        fridays = [e for e in future if e.weekday() == 4]
        if not fridays:
            targets = []
        else:
            qualified = [f for f in fridays if len([e for e in future if e < f]) >= 2]
            w1 = qualified[0] if qualified else fridays[0]
            later = [f for f in fridays if f > w1]
            targets = [w1] + later[:1]
    pct = config.strike_pct / 100.0
    kept = [
        p for p in parsed
        if p["expiry"] in targets
        and p["spot"] * (1 - pct) <= p["strike"] <= p["spot"] * (1 + pct)
    ]
    df = pd.DataFrame(kept)
    if df.empty:
        return df
    df = df.sort_values("order").drop_duplicates(subset=["symbol"], keep="last")
    return df[["symbol", "expiry", "strike", "opt_type", "close", "oi"]].reset_index(drop=True)


# P4 (FIXTURES §1): fewer than four dash parts is malformed even with a
# valid DDMMYY last part. Both carry the first ladder date (as-of + 1)
# and an in-band strike, so only the dash-part guard keeps them out.
SHORT_SYMBOLS = [(sym, "call_options", "3200", "3200.0", "1", "1")
                 for sym in ("ETH-281025", "C-ETH-281025")]


@pytest.mark.parametrize("config", [HOURLY, WEEKLY], ids=["hourly", "weekly"])
def test_spark_pipeline_matches_pandas_model(spark, config):
    ticks = synthetic_tickers(spark, AS_OF.date()).unionByName(
        spark.createDataFrame(SHORT_SYMBOLS, TICKER_RAW))
    rows = [r.asDict() for r in ticks.collect()]

    expected = model_pipeline(rows, config, AS_OF)
    got = (
        run(ticks, None, config, AS_OF)
        .select(
            F.col("SYMBOL").alias("symbol"), F.col("Expiry_Date").alias("expiry"),
            F.col("Strike").alias("strike"), F.col("Option_Type").alias("opt_type"),
            F.col("Close").alias("close"), F.col("OI").alias("oi"),
        )
        .toPandas()
    )
    key = ["symbol"]
    e = expected.sort_values(key).reset_index(drop=True)
    g = got.sort_values(key).reset_index(drop=True)
    assert len(e) == len(g), f"row counts differ: model {len(e)} vs spark {len(g)}"
    for col in ["symbol", "expiry", "strike", "opt_type", "close", "oi"]:
        assert list(e[col]) == list(g[col]), f"column {col} differs"
