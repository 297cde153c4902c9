"""operators/scratch: per-invocation persistence rotation (r16).

The optimization contract: a face that persists bounded intermediates
must not GROW the block manager across repeat invocations — the
previous generation's handles are released at the next entry (guide §5
"unpersist when done"; measured r16: dx10 leaked 2 persisted RDDs per
invocation before rotation). Safety rule: only CACHES rotate across
invocations (an unpersisted cache recomputes; an unpersisted
localCheckpoint poisons any still-held consumer — the r16 suite hit
exactly that when a test re-invoked dx13 between the compile pass and
its oracle collect).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import scratch

SF = "/root/testdata/sf0.001"


def n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def persistent_ids(spark) -> set:
    return {int(e.getKey())
            for e in spark.sparkContext._jsc.getPersistentRDDs()
            .entrySet().toArray()}


def test_cache_rotation_releases_and_recomputes(spark):
    a = scratch.scoped_cache(spark.range(50).select("id"), "t_cache")
    assert a.count() == 50
    b = scratch.scoped_cache(spark.range(60).select("id"), "t_cache")
    assert b.count() == 60
    # an unpersisted CACHE recomputes — the STALE frame stays usable
    # (the property that makes cross-invocation rotation safe)
    assert a.count() == 50
    scratch.rotate("t_cache")


def test_rotate_skips_freed_cache_and_stopped_session(spark, tmp_path):
    """rotate frees what is left: a cache the caller already unpersisted
    raises nothing, and a handle whose SparkContext was stopped raises
    the one error rotate absorbs. The stopped session runs in a child
    process so the suite's session stays up."""
    a = scratch.cache(spark.range(5), "t_freed")
    assert a.count() == 5
    a.unpersist()
    scratch.rotate("t_freed")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {root!r})
        from pyspark.sql import SparkSession
        from eth_options_data_pipeline_spark.operators import scratch
        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.local.dir", {str(tmp_path)!r})
                 .getOrCreate())
        probe = spark.range(6).cache()
        df = scratch.cache(spark.range(5), "t_stopped")
        assert probe.count() == 6 and df.count() == 5
        spark.stop()
        try:
            probe.unpersist(blocking=False)
        except Exception as e:
            print("raises", type(e).__name__)
        scratch.rotate("t_stopped")
        print("rotated")
    """)
    out = subprocess.run([sys.executable, "-c", child], capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["raises", "Py4JJavaError", "rotated"], \
        out.stdout


def test_release_ckpt_frees_the_block(spark):
    df = spark.range(100).select("id").localCheckpoint(eager=True)
    rid = scratch.ckpt_rdd_id(df)
    assert rid in persistent_ids(spark)
    scratch.release_ckpt(df)
    assert rid not in persistent_ids(spark)


def test_face_repeat_invocations_bound_block_manager(spark):
    """Three invocations of rotation-managed faces leave no more
    persisted RDDs than one (previously +2/+3 per invocation) —
    except dx13's FINAL component checkpoint, which is deliberately
    unregistered (releasing it would poison a still-held result
    frame); it may add at most one small RDD per invocation until the
    ContextCleaner collects it."""
    from eth_options_data_pipeline_spark.queries import REGISTRY

    for face, slack_per_inv in (("dx10_neardup_pairs", 0),
                                ("dx13_dup_clusters", 1)):
        fn = REGISTRY[face].fn
        fn(spark, SF).write.mode("overwrite").format("noop").save()
        after_one = n_persistent(spark)
        for _ in range(2):
            fn(spark, SF).write.mode("overwrite").format("noop").save()
        assert n_persistent(spark) <= after_one + 2 * slack_per_inv, (
            f"{face} invocations must not accumulate persisted RDDs "
            f"beyond the documented final-checkpoint slack")


def test_stale_face_frame_survives_reinvocation(spark):
    """The exact r16 suite failure mode: hold a face's DataFrame,
    re-invoke the face (rotating its scratch), then collect the STALE
    frame — it must still produce rows (recompute, not poison)."""
    from eth_options_data_pipeline_spark.queries import REGISTRY

    fn = REGISTRY["dx13_dup_clusters"].fn
    stale = fn(spark, SF)
    fresh = fn(spark, SF)
    assert sorted(map(tuple, stale.collect())) == \
        sorted(map(tuple, fresh.collect()))


def test_components_rounds_release_superseded_checkpoints(spark):
    """Only the FINAL component checkpoint may remain persisted after
    connected_components returns (superseded rounds rotate away)."""
    from eth_options_data_pipeline_spark.operators.components import (
        connected_components,
    )

    before = n_persistent(spark)
    # a 64-node path graph: needs several star rounds to converge
    edges = spark.range(63).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    out = connected_components(edges)
    assert out.where(F.col("component") != 0).count() == 0
    assert n_persistent(spark) <= before + 1, (
        "superseded round checkpoints must be unpersisted")
