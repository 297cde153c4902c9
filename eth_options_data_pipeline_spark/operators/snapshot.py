"""Snapshot lag-join: Open / OI_Change derivation (SURVEY §2 J1-J3, A5, W3, O2).

The reference builds a dict keyed by SYMBOL from the last 300 history
rows (latest occurrence wins, main.py:279-288), probes it with the
current batch (left-outer, miss -> 0 defaults, main.py:290-308), and
derives Open = prev Close, OI_Change = OI - prev OI (main.py:300-304).

Two equivalent Spark forms, cross-checkable against each other:
  * join form   — dedupe build side to latest-per-SYMBOL, broadcast,
                  left join + coalesce (the incremental-batch path);
  * replay form — lag() over (SYMBOL, Date, Time) windows across the
                  full log (the backfill path).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.dedup import first_per_key, keep_last  # noqa: F401 (re-export)


# The reference's append order: runs append in (Date, Time) order and
# each run sorts its rows by (Expiry_Date, Time, SYMBOL) before the
# append (main.py:236-239), so within one snapshot (Expiry_Date, SYMBOL)
# is the row order. SYMBOL is unique within a snapshot after keep-last,
# so this is a total order over the log.
APPEND_ORDER = ("Date", "Time", "Expiry_Date", "SYMBOL")


def latest_per_key(history: DataFrame, keys: Sequence[str] = ("SYMBOL",),
                   order_cols: Sequence[str] = ("Date", "Time")) -> DataFrame:
    """A5/J1 build side: last value per key by (Date, Time).

    The reference's dict-overwrite means *latest occurrence wins*; with
    sorted appends that is max(Date, Time) per SYMBOL. At scale this is
    the `latest_snapshot` compact state table — O(|symbols|), not
    O(|history|) — so the join never scans the full log.
    """
    return first_per_key(history, keys, ", ".join(f"`{c}` DESC" for c in order_cols))


def tail_n(history: DataFrame, n: int, order_cols: Sequence[str] = APPEND_ORDER) -> DataFrame:
    """O2 state-bounding policy: last n rows by append order
    (main.py:260 tail(300)). The default order is ``APPEND_ORDER``:
    (Date, Time) alone ties within a snapshot, and a 300-row cut that
    lands inside one would keep arbitrary rows of it, not the ones the
    reference's tail keeps. Callers with another log pass their own
    total order. At scale, prefer partition pruning to the latest Date
    partition over a global sort.
    """
    return history.orderBy(*[F.desc(c) for c in order_cols]).limit(n)


def derive_open_oi_change(current: DataFrame, previous: DataFrame,
                          key: str = "SYMBOL",
                          order_cols: Sequence[str] = ("Date", "Time")) -> DataFrame:
    """J2/J3: left-join current batch against latest previous state.

    Open      = prev.Close (miss/NULL -> 0.0)   main.py:300-307
    OI_Change = OI - prev.OI (miss/NULL -> 0)   main.py:304-308
    Non-numeric state cells arrive as NULL via try_cast (F6) and fall
    into the same 0-defaults (main.py:276-285).

    The build side is latest-per-key — bounded by the symbol universe —
    so Catalyst broadcast-joins it; no shuffle of the current batch.
    """
    prev = latest_per_key(previous, keys=(key,), order_cols=order_cols).selectExpr(
        f"`{key}`",
        "coalesce(try_cast(Close AS DOUBLE), 0.0D) AS _prev_close",
        "coalesce(try_cast(OI AS BIGINT), 0L) AS _prev_oi",
    )
    return (
        current.join(F.broadcast(prev), on=key, how="left")
        .withColumns({
            "Open": F.expr("coalesce(_prev_close, 0.0D)"),
            "OI_Change": F.expr(
                "CAST(CASE WHEN _prev_oi IS NOT NULL THEN OI - _prev_oi ELSE 0 END AS BIGINT)"),
        })
        .drop("_prev_close", "_prev_oi")
    )


def replay_open_oi_change(log: DataFrame, key: str = "SYMBOL",
                          order_cols: Sequence[str] = ("Date", "Time")) -> DataFrame:
    """W3 replay form: lag() over the full append log — recomputes
    Open/OI_Change for every snapshot in one pass. Equivalent to
    folding derive_open_oi_change over runs; used for backfill and as
    a cross-check of the join form.
    """
    w = Window.partitionBy(key).orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        log.withColumn("Open", F.coalesce(F.lag("Close", 1).over(w), F.lit(0.0)))
        .withColumn("OI_Change",
                    F.coalesce(F.col("OI") - F.lag("OI", 1).over(w), F.lit(0)).cast("long"))
    )
