"""Command-line runner — the engine's equivalent of the reference's
``python main.py`` / ``python deltaweekly.py`` entry points
(main.py:353-399, deltaweekly.py:386-436), with the two scripts
collapsed into ``--config hourly|weekly``.

    python -m eth_options_data_pipeline_spark \
        --config hourly \
        --source synthetic                # or a dir of landed ticker JSON
        --output /data/options_chain \
        --as-of 2025-10-27T12:30:00

Each run: read tickers -> ``pipeline.run`` (snapshot, then the join
against the previous state read back from the output table) -> append
partitioned parquet -> print the parse telemetry the reference logs
(main.py:225-226).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys

from pyspark.sql import Observation
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.pipeline import HOURLY, WEEKLY, run
from eth_options_data_pipeline_spark.session import get_spark
from eth_options_data_pipeline_spark.sinks import append_snapshot, read_history
from eth_options_data_pipeline_spark.sources import read_ticker_json, synthetic_tickers


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="eth_options_data_pipeline_spark")
    p.add_argument("--config", choices=["hourly", "weekly"], default="hourly")
    p.add_argument("--source", default="synthetic",
                   help="'synthetic' or a path to landed ticker JSON")
    p.add_argument("--output", required=True, help="options_chain parquet table path")
    p.add_argument("--as-of", default=None,
                   help="ISO timestamp for the run (default: now UTC); "
                        "injected so runs are deterministic and testable")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    as_of = (dt.datetime.fromisoformat(args.as_of) if args.as_of
             else dt.datetime.now(dt.timezone.utc).replace(tzinfo=None))
    config = HOURLY if args.config == "hourly" else WEEKLY

    spark = get_spark(app_name=f"options-{args.config}", master=args.master)
    if args.source == "synthetic":
        tickers = synthetic_tickers(spark, as_of.date())
    else:
        tickers = read_ticker_json(spark, args.source)

    history = read_history(spark, args.output, config.state_tail)

    obs = Observation("parse_telemetry")
    out = run(tickers, history, config, as_of, observation=obs)
    # rows_appended rides the write action via a second observation —
    # one action per run, not a write plus a full recompute for count()
    out_obs = Observation("rows_appended")
    out = out.observe(out_obs, F.expr("count(1) AS rows_appended"))
    append_snapshot(out, args.output)
    n = int(out_obs.get["rows_appended"])
    telemetry = dict(obs.get)
    print(json.dumps({
        "config": args.config,
        "as_of": as_of.isoformat(),
        "rows_appended": n,
        "output": args.output,
        **telemetry,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
