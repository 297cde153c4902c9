#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q01_...": sec, ...}, "sf": 0.1}

Each query is executed to completion with a noop sink (full compute,
no driver-side result transfer) — the same work profile a cluster job
would have.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eth_options_data_pipeline_spark.queries import REGISTRY  # noqa: E402
from eth_options_data_pipeline_spark.session import get_spark  # noqa: E402
from eth_options_data_pipeline_spark.sources import DEFAULT_SF_DIR  # noqa: E402


# Faces whose DataFrame CONSTRUCTION performs bounded eager side work
# (scratch sink writes, micro-batch stream replays, per-batch state
# checkpoints) before the timed noop write even starts. Their bench
# numbers measure that I/O churn plus the query — fine at face scale
# (3 bounded batches each), but round-over-round deltas on them are
# sink/scheduler noise, not plan regressions, so they carry an explicit
# tag in BENCH_DETAIL.json for anyone diffing rounds.
CONSTRUCTION_HEAVY = {
    "q29_sink_roundtrip",      # overwrite + APPEND scratch writes +
                               # read-back (r14: q17's legs folded in)
    "qx46_merge_upsert",       # copy-on-write MERGE into scratch table
    "qx47_compact_roundtrip",  # compaction rewrite + roundtrip read
    "qx51_textfmt_roundtrip",  # JSONL + CSV scratch writes + read-back
    "sx05_topk_stream",        # 3 micro-batch replays + candidates ckpt
    "sx06_stream_dedup",       # 3 micro-batch replays into scratch
    "sx07_agg_maintain_stream",  # availableNow stream + state landings
    "sx08_cdc_apply_stream",   # availableNow stream + per-batch MERGE
}


# Nominal quiet-box timings of the calibration probes, pinned at
# local[32]. The probes do constant work, so a reading above its
# nominal is host drift and is carried by every per-face number of
# that bench; the shuffle probe catches drift on the exchange path,
# which the compute probes miss. Runs compare best by their own raw
# probe readings (probe to probe); vs_nominal is advisory across
# hosts. How each nominal was measured is recorded in BENCH_DETAIL.json.
_CAL_SPIN_NOMINAL_S = 0.80    # 20M-iteration single-core python loop
_CAL_SPARK_NOMINAL_S = 0.20   # sum over spark.range(200M)
_CAL_SHUFFLE_NOMINAL_S = 1.47  # 64-way round-robin shuffle of 32M longs + sum, min of 3
_CAL_SHUFFLE_TRIP = 1.10


def calibration_probe(spark) -> dict:
    """Constant-work host-speed sample: single-core python spin +
    a fixed all-core Spark range aggregation. Run at bench start AND
    end; the pair turns 'the box was slow' into a number."""
    t0 = time.perf_counter()
    s = 0
    for i in range(20_000_000):
        s += i
    py_spin = time.perf_counter() - t0
    # warm at full size untimed: the first 200M job pays JVM spin-up
    spark.range(200_000_000).selectExpr("sum(id * 2 + 1)").collect()
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id * 2 + 1)").collect()
    spark_range = time.perf_counter() - t0
    # shuffle path: warm once, then the min of 3 (one timing is noisy)
    spark.range(32_000_000).repartition(64).selectExpr("sum(id)").collect()
    shuffle_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(32_000_000).repartition(64).selectExpr(
            "sum(id)").collect()
        shuffle_runs.append(time.perf_counter() - t0)
    spark_shuffle = min(shuffle_runs)
    return {"py_spin_s": round(py_spin, 3),
            "spark_range_s": round(spark_range, 3),
            "spark_shuffle_s": round(spark_shuffle, 3),
            "py_spin_vs_nominal": round(py_spin / _CAL_SPIN_NOMINAL_S, 2),
            "spark_vs_nominal": round(spark_range / _CAL_SPARK_NOMINAL_S, 2),
            "shuffle_vs_nominal": round(
                spark_shuffle / _CAL_SHUFFLE_NOMINAL_S, 2)}


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    sf_dir = DEFAULT_SF_DIR
    spark = get_spark(app_name="engine-bench")

    # Warm the JVM/codegen/parquet/Arrow paths outside the timed region
    # (sf0.001 reads are ~1k rows; they initialize the readers without
    # meaningfully pre-caching sf0.1 data).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from eth_options_data_pipeline_spark.sources import load_tables
    for df in load_tables(spark, "/root/testdata/sf0.001").values():
        df.limit(10).collect()

    cal_start = calibration_probe(spark)

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    runs: dict[str, list[float]] = {name: [] for name in REGISTRY}
    # run-major order (full corpus n_runs times, not each query n_runs
    # times back-to-back) so per-query repeats don't ride each other's
    # freshly-warmed caches
    for _ in range(n_runs):
        for name in sorted(REGISTRY):
            fn = REGISTRY[name].fn
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            runs[name].append(time.perf_counter() - t0)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    # headline per-query number = median (robust to one-off GC/JIT
    # stalls); min and run config go to the sidecar file so the stdout
    # line stays well under the harness's 2000-char stdout-tail capture
    # (a longer line gets truncated mid-JSON and recorded unparsed)
    timings = {name: round(median(ts), 3) for name, ts in runs.items()}
    total = round(sum(timings.values()), 3)
    cal_end = calibration_probe(spark)
    # drift rule (replaces the r10 prose adjudication): a bench run is
    # HOST-INFLATED if either probe reads >= 1.4x nominal at start or
    # end; cross-round per-face comparisons against an inflated run
    # must normalize by the probe ratio or be discarded.
    # the shuffle probe trips at a tight 1.10x against the MEASURED
    # quiet nominal (see _CAL_SHUFFLE_NOMINAL_S provenance): quiet
    # min-of-3 jitter is ~1%, and against the measured 1.47 s the
    # probe excursion tracks exchange-bound face drift ~1:1 (r12
    # driver: probe 1.11-1.13x <-> +12.4% median face drift), so a
    # modest probe excursion already means double-digit corpus
    # inflation.
    inflated = max(cal_start["py_spin_vs_nominal"],
                   cal_end["py_spin_vs_nominal"],
                   cal_start["spark_vs_nominal"],
                   cal_end["spark_vs_nominal"]) >= 1.4 or max(
                   cal_start["shuffle_vs_nominal"],
                   cal_end["shuffle_vs_nominal"]) >= _CAL_SHUFFLE_TRIP
    detail = {
        "metric": "corpus_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": {name: round(min(ts), 4) for name, ts in runs.items()},
        "construction_heavy": sorted(CONSTRUCTION_HEAVY & set(timings)),
        "calibration": {
            "start": cal_start,
            "end": cal_end,
            "nominal": {"py_spin_s": _CAL_SPIN_NOMINAL_S,
                        "spark_range_s": _CAL_SPARK_NOMINAL_S,
                        "spark_shuffle_s": _CAL_SHUFFLE_NOMINAL_S},
            "host_inflated": inflated,
            "rule": ("compute probe >= 1.4x nominal OR shuffle probe "
                     f">= {_CAL_SHUFFLE_TRIP}x nominal at start or "
                     "end => per-face numbers carry host inflation; "
                     "normalize by the probe ratio before cross-round "
                     "comparison. The shuffle nominal is MEASURED "
                     "(r13, 18 quiet-window repeats floor at "
                     "1.464-1.475 s), no longer the r12 "
                     "extrapolation. For exchange-bound faces the "
                     "shuffle probe is the relevant normalizer (r12: "
                     "compute probes <= 1.0x while every "
                     "exchange-bound face drifted ~+10%); across "
                     "boxes prefer probe-to-probe raw readings over "
                     "vs_nominal"),
        },
        "notes": {},
        "sf": sf_from_dir(sf_dir),
        "config": {
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            "n_queries": len(timings),
            "n_runs": n_runs,
            "aggregation": "median_per_query",
            "plan_notes": "PLANS.md (plan-shape assertions: tests/test_plans.py)",
        },
    }
    # curated notes (round-history adjudications) live in the record,
    # not in this file: a regeneration carries every previous note
    # over. A corrupt record fails loudly rather than dropping them.
    here = os.path.dirname(os.path.abspath(__file__))
    out_path = os.path.join(here, "BENCH_DETAIL.json")
    try:
        with open(out_path) as f:
            detail["notes"].update(json.load(f).get("notes", {}))
    except FileNotFoundError:
        pass  # no previous record: nothing to carry
    # advisory probe-normalized total: the raw total divided by the
    # mean start/end shuffle-probe ratio (clamped at 1.0 — a faster-
    # than-nominal box is not "deflated"). ADVISORY ONLY: for
    # cross-round comparisons prefer probe-to-probe raw readings; this
    # exists so an inflated run self-adjudicates inside its own file.
    shuffle_ratio = max(
        1.0, (cal_start["shuffle_vs_nominal"]
              + cal_end["shuffle_vs_nominal"]) / 2)
    detail["advisory_normalized_total"] = round(total / shuffle_ratio, 3)
    detail["advisory_normalized_rule"] = (
        "raw total / mean(start,end shuffle_vs_nominal), clamped >= 1; "
        "advisory only — exchange-bound faces track the shuffle probe "
        "~1:1 (r12 evidence), compute-bound faces less, so this "
        "UNDER-corrects mixed workloads on a shuffle-slow host")
    with open(out_path, "w") as f:
        json.dump(detail, f, indent=1)

    # headline fields (value/total/n_queries/sf) FIRST so a truncated
    # tail still yields them even if the queries dict is cut mid-way
    line = json.dumps({
        "metric": "corpus_total_runtime",
        "value": total,
        "unit": "sec",
        "total": total,
        "n_queries": len(timings),
        "sf": sf_from_dir(sf_dir),
        "queries": timings,
    }, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: never exceed the capture
        line = json.dumps({
            "metric": "corpus_total_runtime",
            "value": total,
            "unit": "sec",
            "total": total,
            "n_queries": len(timings),
            "sf": sf_from_dir(sf_dir),
            "queries": {"detail": "BENCH_DETAIL.json"},
        }, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
