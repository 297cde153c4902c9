"""Expiry-ladder selection (SURVEY §2 W1/W2, J4, O3).

The reference computes these with Python loops over sorted sets
(main.py:43-80; deltaweekly.py:43-111); here they are aggregate and
window DataFrame computations with an injected ``as_of_date`` (SURVEY §7.4
trap 3: no wall-clock reads inside the plan).

``nearest_expiries`` is the package's one top-k ladder: the hourly CLI
run, its streaming twin and the q08/q21 faces all select through it.
Both ladders return tiny DataFrames (<= 3 rows by construction) and
stay in-plan: callers take them as a broadcast semi-join
(filters.expiry_membership) or rank the few rows directly.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def nearest_expiries(expiries: DataFrame, as_of_date: dt.date, k: int = 3) -> DataFrame:
    """W1 hourly ladder E0..E{k-1}: distinct expiries >= as_of, ascending,
    first k. Fallback (main.py:64-65): if none are current/future, take
    the single overall max expiry.

    Single-column input DF; output column ``expiry``, one row per
    ladder date. One global aggregate, fully in-plan (no driver
    actions): each task ships its distinct future dates and its max,
    the final step sorts the set and keeps the first k, or the overall
    max when the set is empty.
    """
    col = expiries.columns[0]
    as_of = f"DATE'{as_of_date.isoformat()}'"
    ladder = expiries.selectExpr(
        f"slice(sort_array(collect_set(IF(`{col}` >= {as_of}, `{col}`, NULL))), 1, {k}) AS future",
        f"max(`{col}`) AS latest",
    )
    return ladder.selectExpr(
        "explode(IF(size(future) > 0, future, array(latest))) AS expiry"
    ).where("expiry IS NOT NULL")


def friday_expiries(expiries: DataFrame, as_of_date: dt.date) -> DataFrame:
    """W2 weekly ladder: among active expiries (>= as_of), W1 is the
    first Friday with >= 2 active expiries strictly before it (else the
    first Friday); W2 is the first Friday after W1
    (deltaweekly.py:43-111, incl. the :84-86 fallback).

    Output: rows (ladder_pos int, expiry date) with ladder_pos in {1, 2}.
    """
    col = expiries.columns[0]
    active = (
        expiries.select(F.col(col).alias("expiry"))
        .where(F.col("expiry").isNotNull() & (F.col("expiry") >= F.lit(as_of_date)))
        .distinct()
    )
    # Cumulative count of active expiries strictly before each one;
    # the active set is tiny (distinct dates), so a single-partition
    # window is fine — this is ladder metadata, not the fact table.
    w = Window.orderBy("expiry").rowsBetween(Window.unboundedPreceding, -1)
    ranked = active.withColumn("n_before", F.count(F.lit(1)).over(w))
    fridays = ranked.where(F.dayofweek("expiry") == 6)  # Spark: Sunday=1 => Friday=6

    # Fully in-plan W1 selection (no driver actions): qualified Fridays
    # (>= 2 predecessors) rank before unqualified, earliest first — the
    # top row IS "first qualified Friday, else first Friday".
    w1_df = (
        fridays.withColumn("_prio", F.when(F.col("n_before") >= 2, 0).otherwise(1))
        .withColumn("_rk", F.row_number().over(Window.orderBy("_prio", "expiry")))
        .where(F.col("_rk") == 1)
        .select(F.col("expiry").alias("w1"))
    )
    # W2 = first Friday strictly after W1 — broadcast the 1-row W1.
    w2_df = (
        fridays.join(F.broadcast(w1_df), fridays.expiry > F.col("w1"))
        .withColumn("_rk", F.row_number().over(Window.orderBy("expiry")))
        .where(F.col("_rk") == 1)
        .select("expiry")
    )
    return w1_df.select(F.lit(1).alias("ladder_pos"), F.col("w1").alias("expiry")).unionByName(
        w2_df.select(F.lit(2).alias("ladder_pos"), "expiry")
    )
