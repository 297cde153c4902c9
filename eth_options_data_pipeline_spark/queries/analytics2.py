"""Third-wave corpus: window battery, pivot, embedding near-dup,
sketches, and the sink round-trip.

Round-2 consolidation: former q25_scalar_subquery's uncorrelated-scalar
facet lives on in q42_dormant_rich_customers (analytics7.py); former
q26_running_total, q37_range_frame and q38_rank_family share one row
base (one row per order) and are now ONE battery,
``q26_window_battery``; former dx09_normalize_text moved into
dx02_doc_features (extensions.py).
"""

from __future__ import annotations

import os
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import vectors as vx
from eth_options_data_pipeline_spark.queries.fuzzy import _PLANES
from eth_options_data_pipeline_spark.queries.registry import query
from eth_options_data_pipeline_spark.sources import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# q29's cached year cohorts from prior invocations, pending eviction —
# bounds the cache leak across bench reps / concurrent sweep compiles
# (ADVICE r14). Spark's CacheManager dedupes cached plans by logical
# plan, so successive invocations' handles SHARE one InMemoryRelation:
# a keep-most-recent-two policy is unenforceable (unpersisting an old
# handle drops the shared entry too — ADVICE r15). Evict ALL prior
# handles at entry instead — same net effect (the current invocation
# re-caches), honest about the semantics, and lock-guarded for the
# 16-thread sweep.
_Q29_COHORT_CACHES: list[DataFrame] = []
_Q29_CACHE_LOCK = threading.Lock()


@query(
    "q26_window_battery",
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2) AS running_spend,
           CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                               RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS BIGINT)
             AS n_similar_price,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           CAST(ntile(4)  OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q26_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function battery over orders — three frame kinds on one
    row base, each a distinct physical window operator:

    * running aggregate (ROWS UNBOUNDED PRECEDING) — the cumulative-
      state shape behind the reference's append-log semantics (former
      q26_running_total);
    * RANGE frame over a numeric ordering (value-based +-1000 band, not
      row-based) (former q37_range_frame);
    * the full ranking family: rank / dense_rank / ntile / percent_rank
      / cume_dist — percent_rank and cume_dist are int/int divisions of
      identical operands, exact across engines (former q38_rank_family).

    All three windows partition by o_custkey, so Catalyst runs them off
    ONE exchange (sort-only boundaries between the window operators) —
    the plan shape that matters at 100 TB."""
    o = t(spark, sf_dir, "orders")
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_range = (
        Window.partitionBy("o_custkey").orderBy("o_totalprice")
        .rangeBetween(-1000, 1000)
    )
    w_rank = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_spend"),
        F.count(F.lit(1)).over(w_range).alias("n_similar_price"),
        F.rank().over(w_rank).alias("rnk"),
        F.dense_rank().over(w_rank).alias("drnk"),
        F.ntile(4).over(w_rank).alias("quartile"),
        F.percent_rank().over(w_rank).alias("pct_rank"),
        F.cume_dist().over(w_rank).alias("cume"),
    )


@query(
    "q27_pivot",
    sql="""
    SELECT l_returnflag,
           round(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0), 2) AS qty_O,
           round(coalesce(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0), 2) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q27_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide) with a fixed value list — Spark's pivot
    compiles to exactly this conditional-aggregate plan; the explicit
    value list avoids the extra distinct-values job."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .select(
            "l_returnflag",
            F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("qty_O"),
            F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("qty_F"),
        )
    )


@query(
    "vx03_embedding_neardup",
    sql=f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             {vx.lsh_bucket_sql("embedding::DOUBLE[]", _PLANES)} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           round({vx.cosine_sql('a.e', 'c.e')}, 6) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE {vx.cosine_sql('a.e', 'c.e')} >= 0.25
    """,
)
def vx03_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucketed candidate
    generation (same Rademacher planes as vx02) + exact cosine
    threshold — the vector face of fuzzy dedup. The pair join runs
    only inside buckets, never across the full corpus."""
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    b = emb.withColumn("bucket", vx.lsh_bucket("e", _PLANES))
    a = b.alias("a")
    c = b.alias("c")
    cos = vx.cosine(F.col("a.e"), F.col("c.e"))
    return (
        a.join(c, (F.col("a.bucket") == F.col("c.bucket"))
               & (F.col("a.vec_id") < F.col("c.vec_id")))
        .where(cos >= 0.25)
        .select(F.col("a.vec_id").alias("vec_a"), F.col("c.vec_id").alias("vec_b"),
                F.round(cos, 6).alias("cos_sim"))
    )


@query(
    "qx28_approx_sketches",
    sql="""
    SELECT l_linestatus,
           count(DISTINCT l_partkey) AS exact_parts,
           true AS hll_ok, true AS p50_ok, true AS p99_ok
    FROM lineitem GROUP BY l_linestatus
    """,
)
def qx28_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates for the 100 TB path: HLL distinct counts and
    approximate percentiles — mergeable partial states, one pass,
    bounded memory.

    Hash-checked face (r3-verdict item #5): the raw sketch estimates
    are engine-specific (Spark HLL++ registers / QuantileSummaries
    aren't reproducible in DuckDB), so instead of emitting them the
    query emits their GUARANTEES as booleans — HLL within 3*rsd
    relative error; percentile_approx's rank interval
    [#(x < v), #(x <= v)] overlapping [q-eps, q+eps]*n — plus the
    exact distinct count. The oracle asserts the booleans true and
    value-checks the exact count. Every verification aggregate is
    partial-aggregatable (two-stage distinct, conditional rank
    counts) — no EXPAND, no sort-based exact percentile — so the
    face itself survives 100 TB."""
    li = t(spark, sf_dir, "lineitem")
    # sketch pass: one partial-aggregatable groupBy (no EXPAND, no
    # sort-based exact percentile — those made this face 13s at sf0.1)
    sketches = li.groupBy("l_linestatus").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("_hll"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("_p50"),
        F.percentile_approx("l_extendedprice", 0.99, 1000).alias("_p99"),
    )
    # verification pass: exact distinct AND rank counts from ONE scan.
    # Pre-aggregating at (status, partkey) makes the second groupBy's
    # row count = the exact distinct count, while the conditional rank
    # counts sum losslessly through the pre-agg — so the exact-distinct
    # comparison no longer needs its own scan + distinct shuffle (the
    # r4 shape paid a third lineitem pass for it). Both stages stay
    # map-side combinable; no EXPAND, no sort-based exact percentile.
    pre = (
        li.join(F.broadcast(sketches), "l_linestatus")
        .groupBy("l_linestatus", "l_partkey")
        .agg(
            F.count(F.lit(1)).alias("_pn"),
            F.first("_hll").alias("_hll"),
            F.sum((F.col("l_extendedprice") < F.col("_p50")).cast("long")).alias("_lt50"),
            F.sum((F.col("l_extendedprice") <= F.col("_p50")).cast("long")).alias("_le50"),
            F.sum((F.col("l_extendedprice") < F.col("_p99")).cast("long")).alias("_lt99"),
            F.sum((F.col("l_extendedprice") <= F.col("_p99")).cast("long")).alias("_le99"),
        )
    )
    ranked = (
        pre.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("exact_parts"),
            F.sum("_pn").alias("_n"),
            F.first("_hll").alias("_hll"),
            F.sum("_lt50").alias("_lt50"),
            F.sum("_le50").alias("_le50"),
            F.sum("_lt99").alias("_lt99"),
            F.sum("_le99").alias("_le99"),
        )
    )
    eps = 0.003
    return ranked.select(
        "l_linestatus",
        "exact_parts",
        (F.abs(F.col("_hll") - F.col("exact_parts"))
         / F.col("exact_parts") <= 0.06).alias("hll_ok"),
        ((F.col("_lt50") / F.col("_n") <= 0.5 + eps)
         & (F.col("_le50") / F.col("_n") >= 0.5 - eps)).alias("p50_ok"),
        ((F.col("_lt99") / F.col("_n") <= 0.99 + eps)
         & (F.col("_le99") / F.col("_n") >= 0.99 - eps)).alias("p99_ok"),
    )


@query(
    "q29_sink_roundtrip",
    sql="""
    WITH y98 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'),
         y99 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderdate < TIMESTAMP '2000-01-01')
    SELECT 'sink_union_append' AS facet, l_returnflag AS cohort,
           count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
    FROM (
      SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linestatus = 'F'
      UNION ALL
      SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linestatus = 'O'
    ) GROUP BY l_returnflag
    UNION ALL
    SELECT 'set_intersect', 'both', count(*), CAST(0.0 AS DOUBLE) FROM
      (SELECT o_custkey FROM y98 INTERSECT SELECT o_custkey FROM y99)
    UNION ALL
    SELECT 'set_except', 'only_1998', count(*), CAST(0.0 AS DOUBLE) FROM
      (SELECT o_custkey FROM y98 EXCEPT SELECT o_custkey FROM y99)
    """,
)
def q29_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S2 sink+source plus §2.7 set operations (q17_union_set_ops
    folded in, r14): write one slice overwrite then APPEND a second
    slice to the same partitioned parquet table — the reference's
    history ∪ new append semantics (S3) carried through the actual
    sink instead of a plan-level UNION ALL — read the table back and
    aggregate (partition-pruned source path, S2). The INTERSECT /
    EXCEPT cohort legs (former q31/q17) ride along unchanged:
    Catalyst plans them as aggregated left-semi / left-anti joins
    over the cached year cohorts. The oracle computes the identical
    bag union relationally — proving the sink round-trip IS
    UNION ALL."""
    li = t(spark, sf_dir, "lineitem")
    # Per-session scratch, overwritten on re-run (qx46/qx47 pattern):
    # the overwrite resets the table, the append lands the second
    # slice, so each invocation is idempotent end-to-end.
    out = os.path.join(
        tempfile.gettempdir(),
        f"sink_rt_{spark.sparkContext.applicationId}",
        os.path.basename(os.path.normpath(sf_dir)), "t")
    cols = ["l_returnflag", "l_quantity"]
    li.where(F.col("l_linestatus") == "F").select(cols) \
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    li.where(F.col("l_linestatus") == "O").select(cols) \
        .write.mode("append").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out)
    sink_face = back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    ).select(F.lit("sink_union_append").alias("facet"),
             F.col("l_returnflag").alias("cohort"), "cnt", "sum_qty")
    o = t(spark, sf_dir, "orders")
    # cached: the intersect AND except branches each consume both
    # cohorts — without the cache every branch rescans orders and
    # repeats the distinct shuffle. cache(), not localCheckpoint: an
    # ExistingRDD has unknown stats and flips broadcast joins to SMJ
    # (pinned in test_kept_cache_sites_stay_cached_and_broadcast).
    # The face can be invoked many times per session (bench reps,
    # 16-thread sweep compile), so bound the leak: evict EVERY prior
    # invocation's handles at entry (ADVICE r14/r15 — the CacheManager
    # dedupes by plan, so partial eviction was illusory anyway).
    # Unpersisting an already-consumed (or never-materialized) cohort
    # is safe — a concurrent plan still holding it just recomputes.
    with _Q29_CACHE_LOCK:
        while _Q29_COHORT_CACHES:
            _Q29_COHORT_CACHES.pop().unpersist(blocking=False)
        y98 = o.where(
            (F.col("o_orderdate") >= "1998-01-01") & (F.col("o_orderdate") < "1999-01-01")
        ).select("o_custkey").distinct().cache()
        y99 = o.where(
            (F.col("o_orderdate") >= "1999-01-01") & (F.col("o_orderdate") < "2000-01-01")
        ).select("o_custkey").distinct().cache()
        _Q29_COHORT_CACHES.extend([y98, y99])
    both = y98.intersect(y99).agg(F.count(F.lit(1)).alias("cnt")).select(
        F.lit("set_intersect").alias("facet"), F.lit("both").alias("cohort"),
        "cnt", F.lit(0.0).alias("sum_qty"))
    only98 = y98.exceptAll(y99).agg(F.count(F.lit(1)).alias("cnt")).select(
        F.lit("set_except").alias("facet"), F.lit("only_1998").alias("cohort"),
        "cnt", F.lit(0.0).alias("sum_qty"))
    return sink_face.unionByName(both).unionByName(only98)
