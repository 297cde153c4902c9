"""PipelineConfig — one parameterized dataflow subsuming both reference
scripts (SURVEY §3.2: main.py and deltaweekly.py are ~95% duplicated
parameter variants).

    hourly  = PipelineConfig(expiry_policy="nearest3",    strike_pct=7)
    weekly  = PipelineConfig(expiry_policy="friday_w1w2", strike_pct=25)

``snapshot(...)`` is the reference's fetch_eth_options_data
(main.py:89-250) as ONE lazy plan over two scans of the small landing,
with no cache: (a) the expiry-ladder branch (for the hourly ladder one
global aggregate), broadcast as the target set, and (b) the main
branch (parse telemetry, guard, strike band, broadcast semi-join with
(a), keep-last dedup).
``run(...)`` adds the previous-state join (calculate_open_and_oi_change,
main.py:266-330) against a broadcast of the latest row per SYMBOL in
the last 300 history rows, and the final sort/projection.

Expressions are SQL text (``selectExpr``, ``where(str)``, ``F.expr``):
the JVM parses each in one call, where a ``functions.*`` Column tree
costs a driver→JVM round trip per node, and Catalyst plans both alike.

An hourly CLI run (``run(..., sort=False)`` into
``sinks.append_snapshot``) submits six Spark jobs: the history
schema read, the ladder aggregate and its broadcast, the state tail's
broadcast, the keep-last shuffle, and the write. The landing is
re-scanned rather than cached: a cache per run would cost its own
materialization and stay pinned after the run. The global sort is
left to callers that return rows (``run()``/``snapshot()`` default);
the sink orders each file itself.
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
from eth_options_data_pipeline_spark.operators.filters import expiry_membership, null_guard, strike_band
from eth_options_data_pipeline_spark.operators.parse import parse_tickers
from eth_options_data_pipeline_spark.operators.snapshot import derive_open_oi_change, tail_n


@dataclass(frozen=True)
class PipelineConfig:
    expiry_policy: str = "nearest3"   # "nearest3" (E0-E2) | "friday_w1w2" (W1/W2)
    strike_pct: float = 7.0           # ±7% hourly, ±25% weekly
    state_tail: int = 300             # previous-state row bound (main.py:260)
    sink_table: str = "options_hourly"


# The reference's pre-append row order (main.py:236-239).
SORT_ORDER = ("Expiry_Date", "Time", "SYMBOL")

HOURLY = PipelineConfig("nearest3", 7.0, 300, "options_hourly")
WEEKLY = PipelineConfig("friday_w1w2", 25.0, 300, "options_weekly")


def target_expiries(parsed: DataFrame, config: PipelineConfig, as_of_date: dt.date) -> DataFrame:
    """The config's expiry ladder over the parsed expiries."""
    expiries = parsed.select("Expiry_Date").where("Expiry_Date IS NOT NULL")
    if config.expiry_policy == "nearest3":
        return expiry_ops.nearest_expiries(expiries, as_of_date, k=3)
    if config.expiry_policy == "friday_w1w2":
        return expiry_ops.friday_expiries(expiries, as_of_date).select("expiry")
    raise ValueError(f"unknown expiry_policy: {config.expiry_policy}")


def _snapshot_rows(raw_tickers: DataFrame, config: PipelineConfig, as_of_ts: dt.datetime,
                   observation=None) -> DataFrame:
    """``snapshot`` without the final sort."""
    as_of_date = as_of_ts.date()
    parsed = parse_tickers(with_ingest_order(raw_tickers), passthrough=("_ingest_order",))
    guard = null_guard("symbol", "Strike", "contract_type", "spot")

    # ladder branch: its own scan of the landing, no cache
    targets = target_expiries(parsed.where(guard), config, as_of_date)

    # main branch: the observation sits here only, so each landed row
    # is counted once; then guard, P3 per-row strike band against each
    # ticker's own spot (main.py:168-172), P5 ladder membership
    obs = observation if observation is not None else f"parse_telemetry_{next(_OBSERVE_SEQ)}"
    main = parsed.observe(
        obs,
        F.expr("count(1) AS rows_fetched"),
        F.expr("sum(CASE WHEN Expiry_Date IS NOT NULL THEN 1 ELSE 0 END) AS successful_parses"),
        F.expr("sum(CASE WHEN Expiry_Date IS NULL THEN 1 ELSE 0 END) AS failed_parses"),
    ).where(guard).where(strike_band("Strike", "spot", config.strike_pct))
    main = expiry_membership(main.where("Expiry_Date IS NOT NULL"), "Expiry_Date", targets)

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
    return keep_last(projected, keys=["SYMBOL"], order_col="_ingest_order").drop("_ingest_order")


def snapshot(raw_tickers: DataFrame, config: PipelineConfig, as_of_ts: dt.datetime,
             observation=None) -> DataFrame:
    """Parse → guard → band → ladder semi-join → project → keep-last
    dedup → sort. Produces options_chain rows with Open/OI_Change
    defaulted to 0 (pre-join state, main.py:210-211).

    Pass a ``pyspark.sql.Observation`` to collect the parse telemetry
    (A4 counters, reference main.py:153-155,225-226) during the normal
    action — no extra scan. Default is a uniquified string observation
    (chained runs embed several snapshots in ONE plan, and Spark
    requires distinct observation names within a query).
    """
    return _snapshot_rows(raw_tickers, config, as_of_ts, observation).orderBy(*SORT_ORDER)


def run(raw_tickers: DataFrame, history: DataFrame | None, config: PipelineConfig,
        as_of_ts: dt.datetime, observation=None, sort: bool = True) -> DataFrame:
    """Full per-run dataflow: snapshot + previous-state join, the 11
    OPTIONS_CHAIN columns sorted by (Expiry_Date, Time, SYMBOL)
    (main.py:353-399 minus the I/O boundaries, which live in sinks.py).

    ``sort=False`` skips the global sort, for a sink that orders its
    own files (``sinks.append_snapshot``): the order never reaches disk
    there and would only cost a range-sampling job and a shuffle.
    """
    out = _snapshot_rows(raw_tickers, config, as_of_ts, observation)
    if history is not None and len(history.columns) > 0:
        # the join keeps SYMBOL first and replaces Open/OI_Change in
        # place, so the columns stay in OPTIONS_CHAIN order
        out = derive_open_oi_change(out, tail_n(history, config.state_tail))
    return out.orderBy(*SORT_ORDER) if sort else out
