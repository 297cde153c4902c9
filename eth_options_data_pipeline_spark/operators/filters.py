"""Filter predicates (SURVEY §2 P2, P3, P5).

All predicates are plain SQL predicates (text or Column) so they push
down to the parquet scan (verify with .explain: PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def null_guard(symbol: str, strike: str, contract_type: str, spot: str) -> str:
    """P2: reject row if any required field is *falsy* — Python
    truthiness in the reference (main.py:164-166) rejects '' symbols
    and 0 strikes, not only NULLs (SURVEY §7.4 trap 7).

    Arguments are SQL expressions, usually column names; the predicate
    is one SQL text, so it serves both ``where`` and an aggregate's
    ``FILTER`` clause.
    """
    return (
        f"{symbol} IS NOT NULL AND {symbol} != '' AND {strike} IS NOT NULL AND {strike} != 0"
        f" AND {contract_type} IS NOT NULL AND {contract_type} != ''"
        f" AND {spot} IS NOT NULL AND {spot} != 0"
    )


def strike_band(strike: str, reference_price: str, pct: float) -> Column:
    """P3: price*(1-p/100) <= strike <= price*(1+p/100)
    (reference main.py:83-87; ±7 hourly, ±25 weekly). Arguments are SQL
    expressions, usually column names; the band factors are computed in
    Python and written as exact double literals."""
    lo, hi = repr(1 - pct / 100.0), repr(1 + pct / 100.0)
    return F.expr(f"{strike} >= {reference_price} * {lo}D AND {strike} <= {reference_price} * {hi}D")


def expiry_membership(df: DataFrame, expiry_col: str, targets: DataFrame) -> DataFrame:
    """P5: keep rows whose expiry is in the target set (main.py:193-194).

    The in-plan target set becomes a broadcast LEFT SEMI join, so the
    key set never reaches the driver.
    """
    tcol = targets.columns[0]
    return df.join(
        F.broadcast(targets.selectExpr(f"`{tcol}` AS `{expiry_col}`").distinct()),
        on=expiry_col, how="left_semi",
    )
