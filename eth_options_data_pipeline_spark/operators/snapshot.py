"""Snapshot lag-join: Open / OI_Change derivation (SURVEY §2 J1-J3, A5, W3, O2).

The reference builds a dict keyed by SYMBOL from the last 300 history
rows (latest occurrence wins, main.py:279-288), probes it with the
current batch (left-outer, miss -> 0 defaults, main.py:290-308), and
derives Open = prev Close, OI_Change = OI - prev OI (main.py:300-304).

The state the probe reads is the reference's 300-row tail
(``tail_n``): a symbol last seen more than 300 rows ago gets the 0
defaults, so Open/OI_Change are computed from that bounded state, never
from the whole log.

``pipeline.run`` is the one caller of the join: the CLI hands it the
history opened by ``sinks.read_history``, the streaming twin its
versioned state of at most ``state_tail`` rows, and ``run`` cuts
either with ``tail_n`` before the probe.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.dedup import first_per_key


# The reference's append order: runs append in (Date, Time) order and
# each run sorts its rows by (Expiry_Date, Time, SYMBOL) before the
# append (main.py:236-239), so within one snapshot (Expiry_Date, SYMBOL)
# is the row order. SYMBOL is unique within a snapshot after keep-last,
# so this is a total order over the log.
APPEND_ORDER = ("Date", "Time", "Expiry_Date", "SYMBOL")


def tail_n(history: DataFrame, n: int, order_cols: Sequence[str] = APPEND_ORDER) -> DataFrame:
    """O2 state-bounding policy: last n rows by append order
    (main.py:260 tail(300)). The default order is ``APPEND_ORDER``:
    (Date, Time) alone ties within a snapshot, and a 300-row cut that
    lands inside one would keep arbitrary rows of it, not the ones the
    reference's tail keeps. Callers with another log pass their own
    total order. This is the exact cut; bounding what it reads is the
    reader's job (``sinks.read_history`` opens only the newest Date
    partitions that hold ``n`` rows).
    """
    return history.orderBy(*[F.desc(c) for c in order_cols]).limit(n)


def derive_open_oi_change(current: DataFrame, previous: DataFrame) -> DataFrame:
    """J2/J3: left-join current batch against latest previous state.

    Open      = prev.Close (miss/NULL -> 0.0)   main.py:300-307
    OI_Change = OI - prev.OI (miss/NULL -> 0)   main.py:304-308
    Non-numeric state cells arrive as NULL via try_cast (F6) and fall
    into the same 0-defaults (main.py:276-285).

    The build side (A5/J1) is the latest row per SYMBOL by (Date, Time):
    the reference's dict-overwrite means *latest occurrence wins*, which
    with sorted appends is max(Date, Time) per SYMBOL. It is bounded by
    the symbol universe, so Catalyst broadcast-joins it; no shuffle of
    the current batch.
    """
    prev = first_per_key(previous, ["SYMBOL"], "`Date` DESC, `Time` DESC").selectExpr(
        "SYMBOL",
        "coalesce(try_cast(Close AS DOUBLE), 0.0D) AS _prev_close",
        "coalesce(try_cast(OI AS BIGINT), 0L) AS _prev_oi",
    )
    return (
        current.join(F.broadcast(prev), on="SYMBOL", how="left")
        .withColumns({
            "Open": F.expr("coalesce(_prev_close, 0.0D)"),
            "OI_Change": F.expr(
                "CAST(CASE WHEN _prev_oi IS NOT NULL THEN OI - _prev_oi ELSE 0 END AS BIGINT)"),
        })
        .drop("_prev_close", "_prev_oi")
    )
