"""Benchmark entry point.

    python3 perfbench/run.py --workload hourly_append --seed 1 --seconds 20 --trace 0

Runs one workload in one process on a ``local[4]`` Spark session, with
one closed-loop client (the next operation starts only after the
previous one returns), checks every output, prints a human-readable
report and, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer metrics from a separate traced run.

Everything the run writes goes under ``.perfbench/`` in the checkout
(one fresh directory per run, removed at the end; results and the
oracle cache stay). Exit code 2 means the program is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("hourly_append", "hourly_deep", "faces")
MASTER_CORES = 4
DRIVER_MEMORY = "3g"


def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def start_session(work: str):
    from eth_options_data_pipeline_spark.session import get_spark

    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp)
    return get_spark(
        app_name="perfbench", master=f"local[{MASTER_CORES}]", shuffle_partitions=MASTER_CORES,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def report(result: dict, kind: str, other_layer_metrics: set[str]) -> dict:
    """The declared metrics with units. A per-layer metric that only the
    other workload family produces reads 0 here (the layer is not called)."""
    values = result["metrics"] if kind == "end_to_end" else result["layers"]
    out = {}
    for name, unit in declared(kind).items():
        if name in values:
            v = values[name]
        elif kind == "per_layer" and name in other_layer_metrics:
            v = 0
        else:
            raise KeyError(f"workload produced no value for declared metric {name!r}")
        out[name] = {"value": v, "unit": unit}
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import eth_options_data_pipeline_spark as pkg
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout ({exc})", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        print(f"perfbench: the program found ({pkg.__file__}) is not this checkout's",
              file=sys.stderr)
        return 2

    os.environ["TZ"] = "UTC"  # the CLI's naive --as-of is read as UTC on both sides
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(MASTER_CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    results = os.path.join(state, "results")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile
    tempfile.tempdir = os.environ["TMPDIR"]

    import faces
    import hourly
    from spans import Tracer

    tracer = Tracer() if args.trace else None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        if args.workload == "faces":
            mod, other = faces, hourly
        else:
            mod, other = hourly, faces
        if tracer is not None:
            mod.install_tracing(tracer)
        result = mod.run(spark, args.workload, args.seed, args.seconds, work, tracer,
                         T_START, session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, f"{tag}.json"), "w", encoding="utf-8") as f:
        json.dump({k: result[k] for k in result}, f, default=str, indent=1)
    if tracer is not None:
        tracer.dump(os.path.join(results, f"{tag}-spans.json"))
    for line in result["summary"]:
        print(line)
    kind = "per_layer" if args.trace else "end_to_end"
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": report(result, kind, set(other.LAYER_METRICS)),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
