"""Expiry-ladder selection (SURVEY §2 W1/W2, J4, O3).

The reference computes these with Python loops over sorted sets
(main.py:43-80; deltaweekly.py:43-111). Here every ladder is SQL over
two aggregates of one expiry column (``ladder_aggregates``): ``_future``,
the distinct expiries on or after an injected ``as_of_date`` in
ascending order (SURVEY §7.4 trap 3: no wall-clock reads inside the
plan), and ``_latest``, the overall max. ``LADDERS`` writes each policy
once, as an ``array<date>`` expression over those two columns.

``pipeline.run`` evaluates the aggregates inside the one global
aggregate that also gathers the landing's rows, and tests each row with
``array_contains``. The q08/q09/q21 faces reach the same SQL through
``nearest_expiries`` and ``friday_expiries``: an ordinary global
aggregate over a date column, exploded to one row per ladder date.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame


def ladder_aggregates(col: str, as_of_date: dt.date, where: str | None = None) -> tuple[str, str]:
    """The two aggregate expressions every ladder reads, as SQL text:
    ``_future`` (sorted distinct expiries >= as_of) and ``_latest`` (the
    max expiry, the nearest ladder's fallback). ``where`` is a SQL
    predicate both aggregates apply as a ``FILTER`` clause."""
    as_of = f"DATE'{as_of_date.isoformat()}'"
    only = f" FILTER (WHERE {where})" if where else ""
    return (f"sort_array(collect_set(IF(`{col}` >= {as_of}, `{col}`, NULL)){only}) AS _future",
            f"max(`{col}`){only} AS _latest")


def _nearest(k: int) -> str:
    """W1 hourly ladder E0..E{k-1}: the first k future expiries; if none
    are current/future, the single overall max (main.py:64-65)."""
    return f"IF(size(_future) > 0, slice(_future, 1, {k}), array(_latest))"


# W2 weekly ladder (deltaweekly.py:43-111): W1 is the first Friday with
# >= 2 active expiries strictly before it, which is its index in the
# sorted set, else the first Friday (:84-86); W2 is the first Friday
# after W1. Spark's dayofweek counts Sunday as 1, so Friday is 6. ``get``
# is NULL past the end, where ``element_at`` raises under ANSI mode.
_W1 = ("coalesce(get(filter(_future, (x, i) -> dayofweek(x) = 6 AND i >= 2), 0),"
       " get(filter(_future, x -> dayofweek(x) = 6), 0))")
_W2 = f"get(filter(_future, x -> dayofweek(x) = 6 AND x > {_W1}), 0)"

# policy -> its ladder dates; a missing date is a NULL element
LADDERS = {
    "nearest3": _nearest(3),
    "friday_w1w2": f"array({_W1}, {_W2})",
}


def nearest_expiries(expiries: DataFrame, as_of_date: dt.date, k: int = 3) -> DataFrame:
    """The nearest ladder over a single-column input DF: distinct
    expiries >= as_of ascending, first k, else the overall max. Output
    column ``expiry``, one row per ladder date."""
    col = expiries.columns[0]
    return (expiries.selectExpr(*ladder_aggregates(col, as_of_date))
            .selectExpr(f"explode({_nearest(k)}) AS expiry")
            .where("expiry IS NOT NULL"))


def friday_expiries(expiries: DataFrame, as_of_date: dt.date) -> DataFrame:
    """The W1/W2 Friday ladder over a single-column input DF. Output:
    rows (ladder_pos int, expiry date) with ladder_pos in {1, 2}."""
    col = expiries.columns[0]
    return (expiries.selectExpr(*ladder_aggregates(col, as_of_date))
            .selectExpr(f"posexplode({LADDERS['friday_w1w2']}) AS (pos, expiry)")
            .where("expiry IS NOT NULL")
            .selectExpr("pos + 1 AS ladder_pos", "expiry"))
