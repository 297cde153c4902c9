"""PipelineConfig — one parameterized dataflow subsuming both reference
scripts (SURVEY §3.2: main.py and deltaweekly.py are ~95% duplicated
parameter variants).

    hourly  = PipelineConfig(expiry_policy="nearest3",    strike_pct=7)
    weekly  = PipelineConfig(expiry_policy="friday_w1w2", strike_pct=25)

``run(...)`` is the reference's fetch_eth_options_data plus its
previous-state join (main.py:89-330) as ONE lazy plan over one scan of
the landing, with no cache. One global aggregate reads the parsed
landing and returns a single row: the expiry ladder's two aggregates
(``expiry.ladder_aggregates``, over the guarded rows), the parse
counters, and the guarded rows themselves (``collect_list``). ``inline``
of that row feeds the strike band, the ladder test (``array_contains``
against the config's ``expiry.LADDERS`` entry), the keep-last dedup and
the previous-state join (calculate_open_and_oi_change, main.py:266-330)
against a broadcast of the latest row per SYMBOL in the last
``state_tail`` state rows. The CLI and the streaming twin both call it;
they differ only in where the state comes from (the output table, or
the twin's versioned state).

The landing is one hourly REST response, about 2k tickers (the
reference holds it in one pandas frame), so gathering it into the one
partition the aggregate outputs costs less than moving it between
stages: keep-last's ``PARTITION BY SYMBOL`` window and the broadcast
state join then need no exchange, and the aggregate, which always
outputs one row, carries the parse counters even when no row survives.

Expressions are SQL text (``selectExpr``, ``where(str)``, ``F.expr``):
the JVM parses each in one call, where a ``functions.*`` Column tree
costs a driver→JVM round trip per node, and Catalyst plans both alike.

An hourly CLI run (``run`` into ``sinks.append_snapshot``) submits three
Spark jobs: the landing aggregate, the state tail's broadcast, and the
write. ``sinks.read_history`` opens only the newest partitions the tail
needs, from metadata, with no job. The output is unsorted: the sink
orders each file itself, and a reader that needs the reference's row
order sorts by ``snapshot.APPEND_ORDER``.
"""

from __future__ import annotations

import datetime as dt
import itertools
from dataclasses import dataclass

_OBSERVE_SEQ = itertools.count()

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import expiry as expiry_ops
from eth_options_data_pipeline_spark.operators.dedup import keep_last, with_ingest_order
from eth_options_data_pipeline_spark.operators.filters import null_guard, strike_band
from eth_options_data_pipeline_spark.operators.parse import parse_tickers
from eth_options_data_pipeline_spark.operators.snapshot import derive_open_oi_change, tail_n


@dataclass(frozen=True)
class PipelineConfig:
    expiry_policy: str = "nearest3"   # "nearest3" (E0-E2) | "friday_w1w2" (W1/W2)
    strike_pct: float = 7.0           # ±7% hourly, ±25% weekly
    state_tail: int = 300             # previous-state row bound (main.py:260)


HOURLY = PipelineConfig("nearest3", 7.0, 300)
WEEKLY = PipelineConfig("friday_w1w2", 25.0, 300)


def run(raw_tickers: DataFrame, history: DataFrame | None, config: PipelineConfig,
        as_of_ts: dt.datetime, observation=None) -> DataFrame:
    """Full per-run dataflow: parse → landing aggregate (ladder, parse
    counters, guarded rows) → band → ladder test → project → keep-last
    dedup → previous-state join, the 11 OPTIONS_CHAIN columns in their
    order (main.py:353-399 minus the I/O boundaries, which live in
    sinks.py). Without history (None or no columns) Open/OI_Change keep
    the pre-join 0 defaults (main.py:210-211).

    Pass a ``pyspark.sql.Observation`` to collect the parse telemetry
    (A4 counters, reference main.py:153-155,225-226) during the normal
    action — no extra scan. Default is a uniquified string observation
    (chained runs embed several runs in ONE plan, and Spark requires
    distinct observation names within a query).
    """
    ladder = expiry_ops.LADDERS.get(config.expiry_policy)
    if ladder is None:
        raise ValueError(f"unknown expiry_policy: {config.expiry_policy}")
    as_of_date = as_of_ts.date()
    parsed = parse_tickers(with_ingest_order(raw_tickers), passthrough=("_ingest_order",))
    guard = null_guard("symbol", "Strike", "contract_type", "spot")
    landing = parsed.selectExpr(
        *expiry_ops.ladder_aggregates("Expiry_Date", as_of_date, where=guard),
        "count(1) AS rows_fetched",
        "count(Expiry_Date) AS successful_parses",
        "count_if(Expiry_Date IS NULL) AS failed_parses",
        f"collect_list(struct(*)) FILTER (WHERE {guard} AND Expiry_Date IS NOT NULL) AS rows",
    )
    # the aggregate's one row holds each counter; the observation reads it
    obs = observation if observation is not None else f"parse_telemetry_{next(_OBSERVE_SEQ)}"
    landing = landing.observe(obs, *(F.expr(f"sum({c}) AS {c}") for c in (
        "rows_fetched", "successful_parses", "failed_parses")))
    # P3 per-row strike band against each ticker's own spot
    # (main.py:168-172), P5 ladder membership (main.py:193-194)
    main = (landing.selectExpr(f"{ladder} AS _ladder", "inline(rows)")
            .where(strike_band("Strike", "spot", config.strike_pct))
            .where("array_contains(_ladder, Expiry_Date)"))

    projected = main.selectExpr(
        "symbol AS SYMBOL",
        f"DATE'{as_of_date.isoformat()}' AS Date",
        f"TIMESTAMP'{as_of_ts.isoformat(sep=' ')}' AS Time",
        "spot AS Future_Price",
        "Expiry_Date", "Strike", "Option_Type", "Close", "OI",
        "0.0D AS Open",
        "0L AS OI_Change",
        "_ingest_order",
    )
    out = keep_last(projected, keys=["SYMBOL"], order_col="_ingest_order").drop("_ingest_order")
    if history is not None and len(history.columns) > 0:
        # the join keeps SYMBOL first and replaces Open/OI_Change in
        # place, so the columns stay in OPTIONS_CHAIN order
        out = derive_open_oi_change(out, tail_n(history, config.state_tail))
    return out
