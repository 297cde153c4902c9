"""The faces workload: passes over a fixed set of oracle-backed registry
faces on the package's fixed sf0.1 testdata (``sources.DEFAULT_SF_DIR``,
read only). One op is one face:
``REGISTRY[name].fn(spark, sf_dir)`` then a noop write. Faces run in a
seeded order within each pass."""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import time

import measure
import spans

FACES = [
    "qx46_merge_upsert",         # jobs submitted while the face is built
    "cx04_token_budget_pack",    # execution-bound, applyInPandas packing kernel
    "sx09_containment_stream",   # streaming + containment kernel, execution-bound
]
MIN_PASSES = 5  # timed passes, whatever --seconds is: 5 samples per face median
FACE_METRICS = ("construct_s", "construct_jobs", "exec_s", "exec_jobs", "exec_tasks")


def face_key(name: str) -> str:
    """Metric prefix of a face: its stable id, e.g. ``queries.sx09``."""
    return f"queries.{name.split('_')[0]}"


LAYER_METRICS = tuple([f"{face_key(f)}.{m}" for f in FACES for m in FACE_METRICS]
                      + ["queries.construct_s", "queries.exec_s"])


def install_tracing(tracer) -> None:
    """Span the registry's sources, the face kernels and the streaming
    modules; the face build and execute spans are opened by ``run``.
    ``packing`` is wrapped by name only: its public ``pack_shard`` runs
    inside ``applyInPandas`` on Python workers."""
    import importlib

    from eth_options_data_pipeline_spark import queries, sources  # noqa: F401  (loads every face module)
    from eth_options_data_pipeline_spark.operators import packing

    def module(name):
        return importlib.import_module(f"eth_options_data_pipeline_spark.{name}")

    tracer.wrap_module(sources, "sources")
    for name in ("containment", "merge_upsert", "order_stats", "selection"):
        tracer.wrap_module(module(f"operators.{name}"), "operators")
    tracer.wrap(packing.pack_documents, "operators.packing.pack_documents")
    for name in ("containment_stream", "stream"):
        tracer.wrap_module(module(f"streaming.{name}"), "streaming")


class _CachedOracle:
    """DuckDB oracle answers, cached per (SQL, testdata content) under
    ``cache_dir``. The testdata is fixed, so each answer is computed
    once per checkout. Quacks like the connection ``compare`` uses."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir, self.cache_dir, self.con = sf_dir, cache_dir, None
        h = hashlib.sha256()
        for name in sorted(os.listdir(sf_dir)):
            h.update(name.encode())
            with open(os.path.join(sf_dir, name), "rb") as f:
                h.update(f.read())
        self.data_hash = h.hexdigest()
        os.makedirs(cache_dir, exist_ok=True)

    def execute(self, sql: str):
        import pandas as pd

        from tests.oracle_harness import duckdb_connection

        key = hashlib.sha256(f"{self.data_hash}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.parquet")
        if not os.path.exists(path):
            if self.con is None:
                self.con = duckdb_connection(self.sf_dir)
            self.con.execute(sql).fetchdf().to_parquet(path + ".tmp")
            os.replace(path + ".tmp", path)
        return _Fetched(pd.read_parquet(path))

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


class _Fetched:
    def __init__(self, pdf):
        self.pdf = pdf

    def fetchdf(self):
        return self.pdf


class _Collected:
    """A collected face output in the shape ``oracle_harness.compare``
    reads (it only calls ``toPandas``)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def run(spark, workload: str, seed: int, seconds: float, work: str, tracer, t_start: float,
        session_s: float) -> dict:
    from eth_options_data_pipeline_spark.queries import REGISTRY
    from eth_options_data_pipeline_spark.sources import DEFAULT_SF_DIR
    from tests.oracle_harness import compare

    sf_dir = DEFAULT_SF_DIR
    counter = measure.JobCounter(spark) if tracer else None

    # warm-up: one untimed pass builds the per-session artifacts and
    # collects each face's output for the oracle check
    collected, warm = {}, {}
    for name in FACES:
        t0 = time.perf_counter()
        collected[name] = _Collected(REGISTRY[name].fn(spark, sf_dir).toPandas())
        warm[name] = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_start

    rng = random.Random(f"faces/{seed}")
    ops, passes, runs = [], [], dict.fromkeys(FACES, 0)
    t_timed = time.perf_counter()
    while (time.perf_counter() - t_timed < seconds or len(passes) < MIN_PASSES
           or len(ops) <= measure.TAIL_BEYOND):
        order = list(FACES)
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            traced = tracer is not None and runs[name] % 2 == 0  # each face: traced, untraced, ...
            runs[name] += 1
            ops.append(_one_op(spark, REGISTRY[name].fn, name, sf_dir, len(ops),
                               tracer if traced else None, counter))
        passes.append(time.perf_counter() - t_pass)

    # oracle parity, outside the timed region
    con = _CachedOracle(sf_dir, os.path.join(os.path.dirname(work), "oracle"))
    parity = {}
    for name in FACES:
        t0 = time.perf_counter()
        res = compare(collected[name], con, REGISTRY[name].sql)
        parity[name] = {**{k: res[k] for k in ("ok", "spark_rows", "oracle_rows")},
                        "why": res.get("why"), "seconds": time.perf_counter() - t0}
    con.close()

    rss = measure.peak_rss_mb(spark)
    ok_faces = {n for n, r in parity.items() if r["ok"]}
    times = [o["seconds"] for o in ops]
    op_tail, pct = measure.tail(times)
    # the warm-up pass ran each face once more; its outputs are the ones checked
    attempted = len(FACES) + len(ops)
    failed = (len(FACES) - len(ok_faces)
              + sum(1 for o in ops if o["error"] or o["face"] not in ok_faces))
    result = {
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
        "metrics": {
            "setup_s": setup_s,
            # the faces' op times lie far apart, so a median over all ops
            # jumps between faces; each face's median, averaged, does not
            "op_p50_s": statistics.fmean(
                measure.median([o["seconds"] for o in ops if o["face"] == n]) for n in FACES),
            "op_tail_s": op_tail,
            "pass_s": measure.median(passes),
            "ok_rate": (attempted - failed) / attempted,
            "peak_rss_mb": rss["total"],
        },
        "detail": {
            "workload": workload, "seed": seed, "peak_rss_mb": rss, "sf_dir": sf_dir,
            "session_s": session_s,
            "faces": FACES, "warmup_s": warm, "passes_s": passes,
            "op_tail_percentile": pct, "ops": ops, "parity": parity,
        },
    }
    if tracer is not None:
        result["layers"] = _layers(tracer, ops)
    result["summary"] = _summary(result)
    return result


def _one_op(spark, fn, name: str, sf_dir: str, i: int, tracer, counter) -> dict:
    rec = {"op": i, "face": name, "error": None, "traced": tracer is not None}
    t0 = time.perf_counter()
    try:
        if rec["traced"]:
            tracer.op, tracer.enabled = i, True
            with tracer.span(f"queries.{name}.construct"):
                df, rec["construct_s"], rec["construct"] = counter.run(fn, spark, sf_dir)
            with tracer.span(f"queries.{name}.exec"):
                _, rec["exec_s"], rec["exec"] = counter.run(
                    df.write.mode("overwrite").format("noop").save)
        else:
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    except Exception as exc:  # an op that raises counts as failed
        rec["error"] = f"{type(exc).__name__}: {exc}"
    finally:
        if tracer is not None:
            tracer.enabled = False
    rec["seconds"] = time.perf_counter() - t0
    if counter is not None:
        rec["persisted_rdds"] = measure.persisted_rdds(spark)
    return rec


def _layers(tracer, ops: list[dict]) -> dict:
    med = measure.median
    traced = [o for o in ops if o["traced"] and not o["error"]]
    out = {}
    for face in FACES:
        mine = [o for o in traced if o["face"] == face]
        key = face_key(face)
        out[f"{key}.construct_s"] = med([o["construct_s"] for o in mine])
        out[f"{key}.construct_jobs"] = med([o["construct"]["jobs"] for o in mine])
        out[f"{key}.exec_s"] = med([o["exec_s"] for o in mine])
        out[f"{key}.exec_jobs"] = med([o["exec"]["jobs"] for o in mine])
        out[f"{key}.exec_tasks"] = med([o["exec"]["tasks"] for o in mine])
    out["queries.construct_s"] = sum(out[f"{face_key(f)}.construct_s"] for f in FACES)
    out["queries.exec_s"] = sum(out[f"{face_key(f)}.exec_s"] for f in FACES)
    out["spark.jobs_per_run"] = med([o["construct"]["jobs"] + o["exec"]["jobs"] for o in traced])
    out["spark.stages_per_run"] = med([o["construct"]["stages"] + o["exec"]["stages"] for o in traced])
    out["spark.tasks_per_run"] = med([o["construct"]["tasks"] + o["exec"]["tasks"] for o in traced])
    out["session.persisted_rdds"] = traced[-1]["persisted_rdds"]
    untraced = [o["seconds"] for o in ops if not o["traced"]]
    out["trace.overhead_s"] = med([o["seconds"] for o in traced]) - med(untraced)
    selfs = [spans.self_times(tracer.op_spans(o["op"])) for o in traced]
    for layer in spans.LAYERS:
        out[f"{layer}.self_s"] = med([s.get(layer, 0.0) for s in selfs])
    return out


def _summary(result: dict) -> list[str]:
    d, m = result["detail"], result["metrics"]
    lines = [
        f"faces seed {d['seed']}: {len(d['passes_s'])} passes, {len(d['ops'])} face ops; "
        f"pass p50 {m['pass_s']:.3f} s, op p50 {m['op_p50_s']:.3f} s, "
        f"p{d['op_tail_percentile']} {m['op_tail_s']:.3f} s; setup {m['setup_s']:.2f} s",
    ]
    for name, r in d["parity"].items():
        lines.append(json.dumps({"face": name, "oracle_parity": r["ok"], "spark_rows": r["spark_rows"],
                                 "oracle_rows": r["oracle_rows"], "why": r["why"]}))
    for o in d["ops"]:
        if o["error"]:
            lines.append(json.dumps({"op": o["op"], "face": o["face"], "error": o["error"]}))
    return lines
