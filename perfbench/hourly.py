"""The hourly workloads: consecutive in-process ``cli.main`` runs, each
appending one hour's snapshot to a table that starts with seeded
history (one day for hourly_append, 90 days for hourly_deep)."""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import json
import os
import time

import inputs
import measure
import model
import spans

HISTORY_HOURS = {"hourly_append": 24, "hourly_deep": 24 * 90}
WARMUP_OPS = 12
SEED_REPEATS = 3        # the table is seeded this often; setup_s counts the median seeding
MAX_OPS = 2000          # op hours the spot path covers; more than any run reaches


LAYER_METRICS = (
    "cli.main_s", "sources.read_ticker_json_s", "sinks.read_history_s", "pipeline.run_s",
    "sinks.append_snapshot_s", "spark.jobs_per_run", "spark.stages_per_run", "spark.tasks_per_run",
    "sinks.table_files", "sinks.table_bytes", "sinks.table_bytes_per_row",
    "session.persisted_rdds",
)


def install_tracing(tracer) -> None:
    """Span every public function ``cli.main`` reaches: the CLI itself,
    the session, source, pipeline and sink modules, and the operators
    the hourly plan is built from."""
    from eth_options_data_pipeline_spark import cli, pipeline, session, sinks, sources
    from eth_options_data_pipeline_spark.operators import clean, dedup, expiry, filters, parse, snapshot

    tracer.wrap(cli.main, "cli.main")
    for mod, layer in ((session, "session"), (sources, "sources"), (pipeline, "pipeline"),
                       (sinks, "sinks")):
        tracer.wrap_module(mod, layer)
    for mod in (snapshot, parse, expiry, dedup, filters, clean):
        tracer.wrap_module(mod, "operators")


def seed_inputs(workload: str, seed: int) -> tuple[list[list[dict]], list, dict]:
    """The seeded snapshots, the files that hold them and the spot path
    (history and op hours)."""
    n_hist = HISTORY_HOURS[workload]
    spots = inputs.spot_path(seed, n_hist, MAX_OPS)
    history = inputs.history_snapshots(seed, n_hist, spots)
    return history, inputs.history_files(history, seed), spots


def land(root: str, seed: int, hour: dt.datetime, spot: float) -> str:
    """Land one hour's tickers; return the directory ``--source`` reads."""
    landed = os.path.join(root, "landed", hour.strftime("%Y%m%dT%H%M"))
    inputs.write_landed(landed, inputs.landed_rows(seed, hour, spot))
    return landed


def read_appended(table: str) -> tuple[dict[dt.datetime, list[dict]], int]:
    """Rows the ops appended, read back with pyarrow and grouped by
    their Time, and the table's row count."""
    import pyarrow.dataset as ds

    first = inputs.FIRST_OP_HOUR.replace(tzinfo=dt.timezone.utc)
    data = ds.dataset(table, format="parquet", partitioning="hive")
    t = data.to_table(filter=ds.field("Time") >= first)
    out: dict[dt.datetime, list[dict]] = {}
    for r in t.to_pylist():
        r["Time"] = r["Time"].replace(tzinfo=None)
        if isinstance(r["Date"], str):
            r["Date"] = dt.date.fromisoformat(r["Date"])
        out.setdefault(r["Time"], []).append(r)
    return out, data.count_rows()


def run(spark, workload: str, seed: int, seconds: float, work: str, tracer, t_start: float,
        session_s: float) -> dict:
    from eth_options_data_pipeline_spark import cli

    seeded, files, spots = seed_inputs(workload, seed)
    seed_times = []
    for rep in range(SEED_REPEATS):
        table = os.path.join(work, f"seed{rep}", "options_chain")
        t0 = time.perf_counter()
        inputs.write_history(table, files)
        seed_times.append(time.perf_counter() - t0)
    hours = inputs.hours(inputs.FIRST_OP_HOUR, MAX_OPS)

    counter = measure.JobCounter(spark) if tracer else None
    records, cli_lines = [], []

    def one_op(i: int) -> dict:
        hour = hours[i]
        landed = land(work, seed, hour, spots[hour])  # outside the op's timing
        argv = ["--config", "hourly", "--source", landed, "--output", table,
                "--as-of", hour.isoformat()]
        rec = {"op": i, "hour": hour.isoformat(), "landed": landed, "error": None}
        traced = tracer is not None and i % 2 == 0
        buf = io.StringIO()
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(buf):
                if traced:
                    tracer.op, tracer.enabled = i, True
                    _, _, rec["jobs"] = counter.run(cli.main, argv)
                else:
                    cli.main(argv)
        except Exception as exc:  # an op that raises counts as failed
            rec["error"] = f"{type(exc).__name__}: {exc}"
        finally:
            if tracer is not None:
                tracer.enabled = False
        rec["seconds"] = time.perf_counter() - t0
        rec["traced"] = traced
        cli_lines.append(buf.getvalue().strip())
        if tracer is not None:
            rec["persisted_rdds"] = measure.persisted_rdds(spark)
            rec["table_files"], rec["table_bytes"] = measure.table_files_bytes(table)
        return rec

    for i in range(WARMUP_OPS):
        records.append(one_op(i))
    setup_s = (time.perf_counter() - t_start) - sum(seed_times) + measure.median(seed_times)

    t_timed = time.perf_counter()
    i = WARMUP_OPS
    while i < MAX_OPS and (time.perf_counter() - t_timed < seconds
                            or i - WARMUP_OPS <= measure.TAIL_BEYOND):
        records.append(one_op(i))
        i += 1
    timed = records[WARMUP_OPS:]

    # check every appended snapshot against the model, after the timed region
    appended, table_rows = read_appended(table)
    history = list(seeded)
    for rec in records:
        hour = dt.datetime.fromisoformat(rec["hour"])
        exp = model.expect(inputs.read_landed(rec["landed"]), history, hour)
        history.append(exp.rows)
        rec["check"] = model.check_op(exp, appended.get(hour, []))
    files, size = measure.table_files_bytes(table)

    rss = measure.peak_rss_mb(spark)
    times = [r["seconds"] for r in timed]
    op_tail, pct = measure.tail(times)
    strict_ok = sum(1 for r in records if r["error"] is None and r["check"]["ok"])
    failed = sum(1 for r in records if r["error"] or r["check"]["hard"])
    result = {
        "attempted": len(records),
        "failed": failed,
        "correct": failed == 0,
        "metrics": {
            "setup_s": setup_s,
            "op_p50_s": measure.median(times),
            "op_tail_s": op_tail,
            "pass_s": measure.median(times),
            "ok_rate": strict_ok / len(records),
            "peak_rss_mb": rss["total"],
        },
        "detail": {
            "workload": workload, "seed": seed, "peak_rss_mb": rss, "session_s": session_s,
            "seed_s": seed_times, "warmup_ops": WARMUP_OPS,
            "timed_ops": len(timed), "op_tail_percentile": pct,
            "history_snapshots": len(seeded),
            "table_rows": table_rows, "table_files": files, "table_bytes": size,
            "table_bytes_per_row": size / table_rows,
            "ops": records,
            "cli_lines": cli_lines,
        },
    }
    if tracer is not None:
        result["layers"] = _layers(tracer, [r for r in timed if r["traced"]],
                                   [r for r in timed if not r["traced"]], result["detail"])
    result["summary"] = _summary(result, records)
    return result


def _summary(result: dict, records: list[dict]) -> list[str]:
    d, m = result["detail"], result["metrics"]
    lines = [
        f"{d['workload']} seed {d['seed']}: {d['warmup_ops']} warm-up + {d['timed_ops']} timed "
        f"ops over {d['history_snapshots']} seeded snapshots; op p50 {m['op_p50_s']:.3f} s, "
        f"p{d['op_tail_percentile']} {m['op_tail_s']:.3f} s; setup {m['setup_s']:.2f} s",
        f"table: {d['table_rows']} rows in {d['table_files']} files, "
        f"{d['table_bytes_per_row']:.1f} bytes/row",
        f"model check: {sum(r['check']['ok'] for r in records)}/{len(records)} ops match "
        f"(ok_rate {m['ok_rate']:.4f}), {result['failed']} ops failed beyond the known tail tie",
    ]
    for r in records:
        c = r["check"]
        if r["error"] or not c["ok"]:
            phase = "timed" if r["op"] >= d["warmup_ops"] else "warm-up"
            lines.append(json.dumps({"op": r["op"], "phase": phase, "hour": r["hour"],
                                     "error": r["error"], "hard_mismatch": c["hard"],
                                     "tail_tie_mismatch": c["tail_tie"]}))
    return lines


def _layers(tracer, traced: list[dict], untraced: list[dict], detail: dict) -> dict:
    med = measure.median
    per_op = [tracer.op_spans(r["op"]) for r in traced]
    out = {
        "cli.main_s": med([spans.durations(s, "cli.main") for s in per_op]),
        "sources.read_ticker_json_s": med([spans.durations(s, "sources.read_ticker_json") for s in per_op]),
        "sinks.read_history_s": med([spans.durations(s, "sinks.read_history") for s in per_op]),
        "pipeline.run_s": med([spans.durations(s, "pipeline.run") for s in per_op]),
        "sinks.append_snapshot_s": med([spans.durations(s, "sinks.append_snapshot") for s in per_op]),
        "spark.jobs_per_run": med([r["jobs"]["jobs"] for r in traced]),
        "spark.stages_per_run": med([r["jobs"]["stages"] for r in traced]),
        "spark.tasks_per_run": med([r["jobs"]["tasks"] for r in traced]),
        "sinks.table_files": detail["table_files"],
        "sinks.table_bytes": detail["table_bytes"],
        "sinks.table_bytes_per_row": detail["table_bytes_per_row"],
        "session.persisted_rdds": traced[-1]["persisted_rdds"],
        "trace.overhead_s": med([r["seconds"] for r in traced]) - med([r["seconds"] for r in untraced]),
    }
    selfs = [spans.self_times(s) for s in per_op]
    for layer in spans.LAYERS:
        out[f"{layer}.self_s"] = med([s.get(layer, 0.0) for s in selfs])
    return out
