"""PipelineConfig — one parameterized dataflow subsuming both reference
scripts (SURVEY §3.2: main.py and deltaweekly.py are ~95% duplicated
parameter variants).

    hourly  = PipelineConfig(expiry_policy="nearest3",    strike_pct=7)
    weekly  = PipelineConfig(expiry_policy="friday_w1w2", strike_pct=25)

``run(...)`` is the reference's fetch_eth_options_data plus its
previous-state join (main.py:89-330) as ONE lazy plan over two scans of
the small landing, with no cache: (a) the expiry-ladder branch (for the
hourly ladder one global aggregate), broadcast as the target set; (b)
the main branch (parse telemetry, guard, strike band, broadcast
semi-join with (a), keep-last dedup); (c) the previous-state join
(calculate_open_and_oi_change, main.py:266-330) against a broadcast of
the latest row per SYMBOL in the last ``state_tail`` state rows. The
CLI and the streaming twin both call it; they differ only in where the
state comes from (the output table, or the twin's versioned state).

Expressions are SQL text (``selectExpr``, ``where(str)``, ``F.expr``):
the JVM parses each in one call, where a ``functions.*`` Column tree
costs a driver→JVM round trip per node, and Catalyst plans both alike.

An hourly CLI run (``run`` into ``sinks.append_snapshot``) submits five
Spark jobs: the ladder aggregate and its broadcast, the state tail's
broadcast, the keep-last shuffle, and the write. ``sinks.read_history``
opens only the newest partitions the tail needs, from metadata, with no
job. The landing is re-scanned rather than cached: a cache per run
would cost its own materialization and stay pinned after the run. The
output is unsorted: the sink orders each file itself, and a reader that
needs the reference's row order sorts by ``snapshot.APPEND_ORDER``.
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


HOURLY = PipelineConfig("nearest3", 7.0, 300)
WEEKLY = PipelineConfig("friday_w1w2", 25.0, 300)


def target_expiries(parsed: DataFrame, config: PipelineConfig, as_of_date: dt.date) -> DataFrame:
    """The config's expiry ladder over the parsed expiries."""
    expiries = parsed.select("Expiry_Date").where("Expiry_Date IS NOT NULL")
    if config.expiry_policy == "nearest3":
        return expiry_ops.nearest_expiries(expiries, as_of_date, k=3)
    if config.expiry_policy == "friday_w1w2":
        return expiry_ops.friday_expiries(expiries, as_of_date).select("expiry")
    raise ValueError(f"unknown expiry_policy: {config.expiry_policy}")


def run(raw_tickers: DataFrame, history: DataFrame | None, config: PipelineConfig,
        as_of_ts: dt.datetime, observation=None) -> DataFrame:
    """Full per-run dataflow: parse → guard → band → ladder semi-join →
    project → keep-last dedup → previous-state join, the 11
    OPTIONS_CHAIN columns in their order (main.py:353-399 minus the I/O
    boundaries, which live in sinks.py). Without history (None or no
    columns) Open/OI_Change keep the pre-join 0 defaults
    (main.py:210-211).

    Pass a ``pyspark.sql.Observation`` to collect the parse telemetry
    (A4 counters, reference main.py:153-155,225-226) during the normal
    action — no extra scan. Default is a uniquified string observation
    (chained runs embed several runs in ONE plan, and Spark requires
    distinct observation names within a query).
    """
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
    out = keep_last(projected, keys=["SYMBOL"], order_col="_ingest_order").drop("_ingest_order")
    if history is not None and len(history.columns) > 0:
        # the join keeps SYMBOL first and replaces Open/OI_Change in
        # place, so the columns stay in OPTIONS_CHAIN order
        out = derive_open_oi_change(out, tail_n(history, config.state_tail))
    return out
