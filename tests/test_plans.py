"""Physical-plan audits: the scale posture is an assertion, not a hope.

Each check pins a plan property that matters at 100 TB: predicate/
projection pushdown into the parquet scan, broadcast (not shuffle)
joins against dimension-sized sides, window-group-limit pushdown for
top-k, and shuffle-freedom for the per-row signature operators.
"""

from __future__ import annotations

import re

import pytest

from eth_options_data_pipeline_spark.queries import REGISTRY


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()



def assert_all_shj_build_right(p: str) -> None:
    """EVERY ShuffledHashJoin in the plan must build its right
    (bounded) side. A bare ``search(r'ShuffledHashJoin .*BuildRight')``
    passes if ANY line matches, so a second SHJ building the
    corpus-scaled left would slip through — the exact regression the
    r14 build-side audit exists to prevent (ADVICE r14)."""
    shj_lines = [ln for ln in p.splitlines() if "ShuffledHashJoin" in ln]
    assert shj_lines, f"expected at least one ShuffledHashJoin:\n{p}"
    bad = [ln for ln in shj_lines if "BuildRight" not in ln]
    assert not bad, f"ShuffledHashJoin not building right:\n" + "\n".join(bad)


def global_window_lines(p: str) -> list[str]:
    """Window operator lines with NO partition spec — the
    single-partition shape the WindowExec warning is about. A Window
    line prints ``[exprs], [partitionSpec], [orderSpec]`` but omits
    empty specs, so two bracket groups can be EITHER global-ordered
    (second group is an order spec — always carries ASC/DESC) or
    partitioned-unordered (second group is the partition columns, no
    sort direction); only the former is a global window."""
    out = []
    for ln in p.splitlines():
        if not ln.strip("+-: *").startswith("Window ["):
            continue
        if ln.count("], [") == 1:
            tail = ln.rsplit("], [", 1)[1]
            if "ASC" in tail or "DESC" in tail:
                out.append(ln.strip())
    return out

def test_filter_and_projection_pushdown(spark, sf_small):
    """P3 band filter + P6 projection (the retired q02 face's plan
    evidence, kept at operator level): both must reach the parquet
    scan as PushedFilters / a pruned ReadSchema."""
    from eth_options_data_pipeline_spark.operators.filters import strike_band
    from eth_options_data_pipeline_spark.sources import load_table

    li = load_table(spark, sf_small, "lineitem")
    df = li.where(
        strike_band("l_quantity", "15.0D", 100.0 / 3)
        & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    p = plan(df)
    assert "PushedFilters: [" in p
    assert "IsNotNull(l_quantity)" in p or "GreaterThanOrEqual(l_quantity" in p
    # projection pruning: the scan must not read all 11 lineitem columns
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_tax" not in read_schema and "l_suppkey" not in read_schema


def test_dimension_joins_broadcast(spark, sf_small):
    p = plan(REGISTRY["q19_region_revenue"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_semi_join_broadcast(spark, sf_small):
    # q05's P5 leg lives inside q04 since the r15 fold: the outer
    # join's right side must still be a broadcast LEFT SEMI join
    p = plan(REGISTRY["q04_left_join_coalesce"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_topk_window_group_limit(spark, sf_small):
    p = plan(REGISTRY["q20_topk_per_group"].fn(spark, sf_small))
    assert "WindowGroupLimit" in p


def test_vocab_topn_is_window_group_limit(all_plans):
    """dx59 (dx44's vocab leg folded in, r14): the top-200-per-gram_n
    vocab ranking must bound its window as WindowGroupLimit (per-key
    running top-k, never a full per-key sort of the gram space), and
    the ~20-row newg/oov aggregates must broadcast into the base join
    (no SortMergeJoin left for AQE to fix at runtime)."""
    p = all_plans["dx59_vocab_growth"]
    assert "WindowGroupLimit" in p, p
    assert "SortMergeJoin" not in p, p


def test_sort_limit_is_take_ordered(spark, sf_small):
    """O1 (folded into q21 r14): the output sort+limit leg must plan
    as TakeOrderedAndProject (bounded per-task heap + driver merge),
    never a global Sort materialization; the rank window that makes
    the order hash-visible runs AFTER the limit, over <= 100 rows."""
    p = plan(REGISTRY["q21_options_pipeline"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in p
    # identify the sort_rank window STRUCTURALLY (ADVICE r14): it is
    # q21's only GLOBAL-ordered row_number window (no partition spec —
    # safe because it runs over the <= 100 post-limit rows; the alias
    # to sort_rank lives in the Project above, so the Window line
    # itself never names it). The keep-last dedup window below the
    # limit is partitioned, so a bare "Window" substring could
    # false-pass on plan-string reordering.
    ranks = [ln for ln in global_window_lines(p) if "row_number()" in ln]
    assert len(ranks) == 1, (ranks, p)
    assert p.index(ranks[0]) < p.index("TakeOrderedAndProject"), (
        "sort_rank window must sit above the limit, not under it")


def test_signature_ops_are_shuffle_free(spark, sf_small):
    """MinHash signatures and SimHash are per-row projections — no
    key-based shuffle may appear (the retired dx06 face's plan
    evidence, kept over the same operator composition). (A single
    round-robin exchange is the loader's small-input spreading; on
    real multi-split inputs it does not fire.)"""
    from eth_options_data_pipeline_spark.queries.fuzzy import signature_battery
    from eth_options_data_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_small, "documents")
    p = plan(signature_battery(docs))
    assert "Exchange hashpartitioning" not in p, f"signature plan shuffles:\n{p}"
    assert p.count("Exchange roundrobin") <= 1


def test_keep_last_single_shuffle(spark, sf_small):
    """The folded q10 tail-N bounding stage (r13) plans as
    TakeOrderedAndProject — each task forwards <= 300 rows to a
    single bounded gather, never a global sort materialization — and
    because that gather already co-locates the bounded state, the
    keep-last window needs NO hash shuffle at all (the unbounded
    keep_last operator's one-shuffle shape stays pinned by
    test_keep_last_operator_single_shuffle below)."""
    p = plan(REGISTRY["q06_keep_last"].fn(spark, sf_small))
    assert p.count("Exchange hashpartitioning") == 0
    assert "TakeOrderedAndProject(limit=300" in p


def test_keep_last_operator_single_shuffle(spark):
    """Unbounded keep-last dedup costs exactly one hash shuffle on
    the key (the q06 face's bounded composition above elides even
    that — this pins the general-operator contract)."""
    from eth_options_data_pipeline_spark.operators.snapshot import keep_last
    from pyspark.sql import functions as F

    df = (spark.range(1000)
          .select((F.col("id") % 37).alias("k"), F.col("id").alias("v")))
    p = plan(keep_last(df, keys=["k"], order_col="v"))
    assert p.count("Exchange hashpartitioning") == 1


def test_range_join_no_nested_loop(spark, sf_small):
    """Bucketized interval containment must plan as a hash join on the
    bucket id — never BroadcastNestedLoopJoin / CartesianProduct."""
    p = plan(REGISTRY["dx33_range_join"].fn(spark, sf_small))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_budget_selection_no_global_window(spark, sf_small):
    """The running-total selection must be the distributed prefix sum —
    no window over an unpartitioned (empty-key) global ordering on the
    corpus side. The only permitted global window is the one over the
    |partitions|-row offsets table, which AQE collapses to one tiny
    task."""
    df = REGISTRY["dx16_select_to_budget"].fn(spark, sf_small)
    p = plan(df)
    # corpus rows ride windows partitioned by _pid; the ONLY permitted
    # global window is the one over the |partitions|-row offsets table
    # (recognizable by its _pid ordering)
    for ln in global_window_lines(p):
        assert "_pid" in ln, f"global window over corpus rows:\n{ln}"


def test_export_shuffle_single_exchange(spark, sf_small):
    """Export shuffle = one shard exchange + in-partition sort; no
    global sort."""
    p = plan(REGISTRY["dx24_export_shuffle"].fn(spark, sf_small))
    assert "Exchange rangepartitioning" not in p


@pytest.fixture(scope="module")
def all_plans(all_plans_raw):
    """One physical-plan compile per face, shared by every
    registry-wide sweep below (suite-budget move, VERDICT r06 item 4).
    Backed by the session-scoped ``all_plans_raw`` in conftest.py so
    the compile pass is shared with test_all_faces_compile.py; faces
    that FAILED to compile are dropped here — the early tripwire
    already failed with their names, so the sweeps stay live for
    everything else instead of erroring at setup (VERDICT r07 item 5)."""
    return {name: p for name, (_df, p, exc) in all_plans_raw.items()
            if exc is None}


def test_no_python_in_hot_paths(all_plans):
    """Every corpus query except the explicitly-Pandas multimodal one
    must be pure JVM expression code — no Python row/batch eval
    operators anywhere in the physical plan."""
    # exemptions: multimodal (Arrow decode path is the point), the
    # heavy-hitters summary pass (deliberate bounded mapInPandas) —
    # sx05 reuses that same summary kernel per micro-batch — and
    # dx42's centroid assignment (r15: the numpy dim-loop kernel is
    # bit-identical to the expr fold but vectorized C; paper-rule k
    # made interpreted HOF assignment the ramp bottleneck)
    for name, p in all_plans.items():
        if name.startswith("mm") or name in ("dx36_heavy_hitters", "dx38_sequence_packing", "dx39_cdc_chunks", "sx05_topk_stream", "cx04_token_budget_pack", "dx42_semdedup"):
            continue
        assert "EvalPython" not in p and "MapInPandas" not in p, f"{name} drops to Python"


def test_bm25_single_scan_topk(spark, sf_small):
    """dx45: corpus read once, stats side is one broadcast row, top-k
    is a TakeOrderedAndProject (each executor forwards <= k rows)."""
    p = plan(REGISTRY["dx45_bm25_topk"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p
    assert p.count("Scan parquet") <= 2  # doc scan + stats branch


def test_rrf_sources_are_bounded(spark, sf_small):
    """dx46: both source rankings end in TakeOrderedAndProject BEFORE
    the fusion join, so the join's inputs are <= pool-size rows at any
    corpus scale. (The full-outer join itself stays a sort-merge —
    Spark has no broadcast full-outer equi-join — which is fine
    because both inputs are already bounded.)"""
    p = plan(REGISTRY["dx46_hybrid_rrf"].fn(spark, sf_small))
    assert p.count("TakeOrderedAndProject") >= 3  # bm pool, ve pool, final
    join_at = p.index("FullOuter")
    # BOTH bounded pools must sit BELOW the fusion join in the tree
    # (children print after their parent in the plan text)
    assert p[join_at:].count("TakeOrderedAndProject(limit=20") >= 2, p


def test_rag_corpus_side_shuffle_free_until_topk(spark, sf_small):
    """dx43: chunk + embed are per-row expressions; the only key
    exchange is the per-query top-k window (WindowGroupLimit)."""
    p = plan(REGISTRY["dx43_rag_retrieval"].fn(spark, sf_small))
    assert "WindowGroupLimit" in p
    assert "PythonUDF" not in p and "BatchEvalPython" not in p


def test_ngram_span_dedup_equi_joins_only(spark, sf_small):
    """dx47's digest self-join must stay an equi-join (hash or
    sort-merge — AQE's call); never a cartesian or nested-loop
    product, and never Python."""
    p = plan(REGISTRY["dx47_ngram_span_dups"].fn(spark, sf_small))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_gap_fill_single_window_sort(spark, sf_small):
    """dx48 computes LOCF (backward frame) and interpolation (forward
    frame) over the same key-partitioned day ordering: exactly one
    Window node, so adding the second fill mode costs no extra sort or
    shuffle. No cartesian grid materialization — the calendar comes
    from a broadcast bounds row + sequence explode."""
    p = plan(REGISTRY["dx48_gap_fill"].fn(spark, sf_small))
    windows = [ln for ln in p.splitlines() if ln.strip("+- *").startswith("Window ")]
    assert len(windows) == 1, p
    assert "CartesianProduct" not in p


def test_context_windows_single_window_node(spark, sf_small):
    """dx52's context list and its length share one sliding frame:
    exactly one Window node, no Python eval."""
    p = plan(REGISTRY["dx52_context_windows"].fn(spark, sf_small))
    windows = [ln for ln in p.splitlines()
               if ln.strip("+- *").startswith("Window ")]
    assert len(windows) == 1, p
    assert "EvalPython" not in p


def test_temperature_mix_weights_broadcast(spark, sf_small):
    """dx51 derives per-source weights in-plan and joins them back via
    BROADCAST — the fact side must not shuffle for the join, and the
    row amplification is an in-row explode (Generate), not a join."""
    p = plan(REGISTRY["dx51_temperature_mix"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "Generate explode" in p


def test_partitioned_join_gets_dynamic_partition_pruning(spark, sf_small,
                                                         tmp_path):
    """A fact table partitioned on the join key, joined to a
    selectively-filtered dim, must plan a dynamic-partition-pruning
    subquery on the fact scan — at 100 TB this is the difference
    between scanning one partition and scanning the lake."""
    from eth_options_data_pipeline_spark.sources import load_table
    orders = load_table(spark, sf_small, "orders")
    path = str(tmp_path / "orders_part")
    orders.write.partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("1-URGENT", "hot"), ("2-HIGH", "warm")],
        "o_orderpriority string, label string")
    joined = (fact.join(dim.where("label = 'hot'"), "o_orderpriority")
              .groupBy("label").count())
    op = optimized(joined)
    assert "dynamicpruning" in op, op


def test_bucketed_join_needs_no_exchange(spark, sf_small):
    """Co-located joins: two tables bucketed on the join key join
    WITHOUT a shuffle — at 100 TB this turns the nightly fact-fact
    join from the dominant exchange into a local zipper. (Bucket scans
    only kick in when the join would otherwise shuffle, so AQE's
    broadcast promotion is disabled for the probe.)"""
    from eth_options_data_pipeline_spark.sources import load_table
    orders = load_table(spark, sf_small, "orders")
    lineitem = load_table(spark, sf_small, "lineitem")
    spark.sql("DROP TABLE IF EXISTS _bj_orders")
    spark.sql("DROP TABLE IF EXISTS _bj_lineitem")
    try:
        (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .saveAsTable("_bj_orders"))
        (lineitem.selectExpr("l_orderkey", "l_extendedprice")
         .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .saveAsTable("_bj_lineitem"))
        with _conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            j = (spark.table("_bj_orders")
                 .join(spark.table("_bj_lineitem"),
                       F.col("o_orderkey") == F.col("l_orderkey"))
                 .groupBy("o_orderpriority")
                 .agg(F.sum("l_extendedprice")))
            p = plan(j)
        pre_join = p.split("HashAggregate")[-1]  # below the agg: join subtree
        assert "SortMergeJoin" in p
        assert "Exchange" not in pre_join, p
    finally:
        spark.sql("DROP TABLE IF EXISTS _bj_orders")
        spark.sql("DROP TABLE IF EXISTS _bj_lineitem")


def test_runtime_bloom_filter_injected(spark, sf_small):
    """Runtime bloom-filter pruning: a selective dim filter on a
    shuffle join injects a bloom filter onto the fact scan side, so
    most fact rows die before the exchange. Spark gates this on
    multi-GB size estimates; the probe lowers the thresholds to show
    the engine's plans are eligible (at real scale the defaults
    fire)."""
    # raw reads: load_table's small-input Repartition node would sit
    # between scan and join and block the injection pattern-match
    lineitem = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_small}/part.parquet")
    with _conf(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }):
        j = (lineitem.join(part.where(F.col("p_size") == 1),
                           F.col("l_partkey") == F.col("p_partkey"))
             .groupBy("p_type").count())
        op = optimized(j)
    assert "bloom_filter" in op.lower() or "BloomFilter" in op, op


import contextlib

from pyspark.sql import functions as F


@contextlib.contextmanager
def _conf(spark, kv: dict):
    old = {k: spark.conf.get(k, None) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_export_pipeline_stays_jvm_and_bounded(spark, sf_small):
    """cx02: split + mix + shard as one plan — weights join is a
    BROADCAST, amplification is an in-row explode, and the only
    corpus-wide exchanges are the shard hash and the per-shard
    position window. Never Python, never a sort-merge join, never a
    global (partition-less) window over corpus rows."""
    p = plan(REGISTRY["cx02_export_pipeline"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p
    assert "Generate explode" in p
    assert global_window_lines(p) == [], \
        f"global window over corpus rows:\n{global_window_lines(p)}"


def test_quality_ensemble_plan_posture(spark, sf_small):
    """cx03: the three-component vote must keep each component's
    proven shape — the classifier weight join BROADCAST, the LM model
    joins decided by the frozen artifact's REAL file size (tiny at
    test scale so Catalyst broadcasts them; a web-scale bigram table
    exceeds the threshold and falls back to sort-merge automatically —
    size-decided beats the old estimate-decided posture), the per-doc
    score joins sort-merge in the initial plan (two doc-count-sized
    sides — broadcasting one was only ever viable at test scale; AQE
    converts small ones at runtime), zero Python, no cartesian (the
    1-row totals cross join broadcasts), no global window. The
    documents scan count is pinned: each scan is a full corpus pass at
    100 TB, and the LM freeze cut the two training passes out of the
    serve plan (8 -> 6; a regression that forks another raw-docs
    consumer shows up here as 7+)."""
    p = plan(REGISTRY["cx03_quality_ensemble"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in p
    assert p.count("SortMergeJoin") <= 2, p
    assert "lm_quality" in p, "cx03 no longer reads the frozen LM family"
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert global_window_lines(p) == []
    n_scans = sum(1 for ln in p.splitlines() if "FileScan parquet" in ln
                  and "documents" in ln)
    assert n_scans <= 6, f"documents scan count grew: {n_scans}"


def test_aqe_splits_skewed_join_partitions(spark, sf_small):
    """Skew posture: when one join key dominates, AQE must split the
    oversized shuffle partition (skew=true in the final adaptive
    plan) instead of letting one task carry the key. Thresholds are
    lowered so sf0.001 exhibits what a 100 TB hot key would; the
    engine's own salting operator (operators/skew.py, q30) covers the
    pre-AQE fallback."""
    df = spark.range(0, 200_000).select(
        F.when(F.col("id") % 100 < 99, F.lit(7)).otherwise(F.col("id"))
         .alias("k"),
        F.col("id").alias("v"))
    dim = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    with _conf(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }):
        j = df.join(dim, "k")
        j.collect()  # AQE decisions appear only in the FINAL plan
        p = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in p and "AQEShuffleRead skewed" in p, p


def test_token_budget_pipeline_posture(all_plans):
    """cx04: BPE counting and budget selection stay JVM-side (the one
    Python operator is the packing kernel's FlatMapGroupsInPandas),
    and the selection stage keeps its distributed-prefix-sum shape —
    no partition-less window even though the pipeline composes three
    operators."""
    p = all_plans["cx04_token_budget_pack"]
    assert p.count("FlatMapGroupsInPandas") == 1, p
    assert "MapInPandas" not in p
    # as in dx16: the only permitted global window is the one over the
    # |partitions|-row offsets table (recognizable by its _pid ordering)
    for ln in global_window_lines(p):
        assert "_pid" in ln, f"global window over corpus rows in cx04:\n{ln}"


def test_zorder_face_has_no_global_window(all_plans):
    """dx26 de-scaffolded (VERDICT r08 item 5): the face now computes
    grid-cell semantics (one-row max() bounds pass broadcast back +
    static interleave chain), so the corpus's last partition-less sort
    is gone. ntile must not reappear either."""
    p = all_plans["dx26_zorder_key"]
    assert global_window_lines(p) == [], global_window_lines(p)
    assert "ntile" not in p


def test_no_cartesian_product_anywhere(all_plans):
    """Registry-wide tripwire: no face may plan an unbounded
    CartesianProduct. (BroadcastNestedLoopJoin appears only as the
    broadcast-scalar / bounded-panel cross join — 1-row totals,
    constant anchor panels — which is the intended shape; a true
    cartesian between two large sides would surface here as
    CartesianProduct.)"""
    for name, p in all_plans.items():
        assert "CartesianProduct" not in p, f"{name} plans a cartesian"


def test_sx05_construction_is_single_barrier(spark, sf_small):
    """The sx05 batch face replays three micro-batches off ONE
    localCheckpoint (the grouped candidate table) — r05's version paid
    one checkpoint per batch (~3x the construction jobs). The AQE job
    cascade for the single checkpoint measures 3 jobs; a per-batch
    barrier regression lands at 9+."""
    sc = spark.sparkContext
    sc.setJobGroup("sx05-construct", "sx05-construct")
    try:
        REGISTRY["sx05_topk_stream"].fn(spark, sf_small)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n = len(sc.statusTracker().getJobIdsForGroup("sx05-construct"))
    assert n <= 4, f"sx05 construction ran {n} jobs (single-barrier regression?)"


def test_salted_join_is_shuffled_and_salted(all_plans):
    """dx61: the fact side must NOT be broadcast (the whole point is
    spreading a hot key across reducers), the join must carry the salt
    in its keys, and the dim replication must be an in-row explode
    (posexplode/generate), not a join."""
    p = all_plans["dx61_salted_skew_join"]
    assert "ShuffledHashJoin" in p, p
    assert "salt" in p
    assert "Generate explode" in p


def test_minhash_error_candidate_join_on_band_keys(all_plans):
    """dx60 inherits dx07's scale posture: candidates come from the
    band-key equi-join (no cartesian/nested-loop over documents)."""
    p = all_plans["dx60_minhash_error"]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "band_key" in p


def test_stream_quantile_serving_is_tiny_and_window_free(all_plans):
    """sx10's serve path ranks from the B-bucket histogram: no global
    Window over history, no sort of the orders table — the only
    non-equi join is the triangular bucket<=bucket self-join over <=12
    rows."""
    p = all_plans["sx10_stream_quantiles"]
    assert global_window_lines(p) == []
    assert "o_totalprice" not in p  # serves from state, never raw history


def test_orc_roundtrip_read_partition_prunes(all_plans):
    """qx52: the lang filter must prune to the lang=en directory at
    the ORC scan (PartitionFilters), not post-filter all partitions."""
    p = all_plans["qx52_orc_roundtrip"]
    scan = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert scan and "lang" in scan[0], p


# Faces whose plans legitimately contain a partition-less (global)
# Window — each over a construction-BOUNDED input, never corpus rows:
#   q08/q09        expiry/Friday ladder rank — a handful of candidate
#                  dates survives the aggregation below the window
#   dx16/cx01/cx04 the |shuffle-partitions|-row offsets table of the
#                  distributed prefix sum (the corpus side is
#                  partitioned by _pid; asserted separately above)
#   dx45/dx46      rank over the <= pool-size rows a
#                  TakeOrderedAndProject already bounded
#   dx55/dx57      rank over the top-k pair candidates / the 1-row
#                  per-round merge pick
#   sx11           the <=|quality-buckets|-row merged bucket-totals
#                  table of the served prefix sum (the doc side is
#                  partitioned by bucket — the dx16 decomposition with
#                  statically-known ranges)
_BOUNDED_GLOBAL_WINDOW_FACES = {
    "q08_expiry_ladder", "q09_friday_ladder",
    "dx16_select_to_budget", "cx01_corpus_pipeline",
    "cx04_token_budget_pack",
    "cx05_corpus_composition",  # cx01's prefix-sum stage, same bound
    "dx45_bm25_topk", "dx46_hybrid_rrf",
    "dx55_bpe_pairs", "dx57_bpe_train",
    "sx11_budget_stream",
    # r14 fold: q21's sort_rank window runs ABOVE TakeOrderedAndProject
    # (limit=100), so its input is bounded by the LIMIT literal, never
    # the data — ordering pinned in test_sort_limit_is_take_ordered
    "q21_options_pipeline",
}


def test_no_unbounded_global_window_anywhere(all_plans):
    """Registry-wide tripwire (the cartesian sweep's Window twin): a
    partition-less ordered Window outside the bounded allowlist means
    some face funnels corpus-scale rows through one task — exactly
    the shape the WindowExec warning is about. New faces must either
    partition their windows or justify an allowlist entry here."""
    for name, p in all_plans.items():
        if name in _BOUNDED_GLOBAL_WINDOW_FACES:
            continue
        g = global_window_lines(p)
        assert not g, f"{name} plans a global window:\n{g[0]}"


def test_frozen_index_faces_serve_without_training(all_plans):
    """Late-r12 artifact freezes: vx04's IVF index, vx06's PQ
    codebooks/codes, and the dx35/cx03 shared bigram-LM count tables
    land once per session — the SERVE plan must read the artifact
    parquet (its family name appears in the FileScan location) and
    must not contain the Lloyd-refinement posexplode. A reverted
    freeze would silently re-pay training on every invocation."""
    for face, family in (("vx04_ivf_ann", "vx04_ivf"),
                         ("vx06_pq_adc", "vx06_pq"),
                         ("dx35_perplexity", "lm_quality"),
                         ("cx03_quality_ensemble", "lm_quality")):
        p = all_plans[face]
        assert family in p, f"{face} does not read its {family} artifact"
        if face.startswith("vx"):
            assert "posexplode" not in p, f"{face} re-trains in serve plan"


def test_pq_adc_scan_touches_codes_not_embeddings(all_plans):
    """vx06: the ADC candidate scan joins the code table to the
    broadcast LUT — codebooks and LUT ride BroadcastExchange, the
    encode/assign joins are equi-joins on the subspace id (no
    cartesian against the corpus), and raw embeddings re-enter only
    for the bounded rerank pool."""
    p = all_plans["vx06_pq_adc"]
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    assert "dsq_nano" in p


def test_bloom_prefilter_probe_side_never_shuffles(spark, sf_small):
    """The single-bitset broadcast-prune regime (the retired dx62
    face, r12 — its answer-equality lives in
    test_dx62_bloom_path_equals_direct_path and its sharded sibling is
    the driver-green dx65): the bitset lookups and the exact confirm
    are ALL broadcast-hash joins (k=3 word probes + bench-gram confirm
    + the totals join re-using broadcast), so the corpus gram stream
    reaches its per-doc aggregate without an intermediate exchange.
    The bench gram set and the bitset are rotation-managed CACHES
    (r16: scratch.rotate releases the previous invocation's blocks,
    and an unpersisted cache recomputes instead of poisoning stale
    consumers the way a released checkpoint would), so they surface as
    InMemoryTableScan — the bit_or build plan is pinned separately
    below."""
    from eth_options_data_pipeline_spark.queries.analytics19 import (
        _bloom_hits,
    )
    p = plan(_bloom_hits(spark, sf_small, use_bloom=True))
    assert p.count("BroadcastHashJoin") >= 4, p
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p  # the rotation-scoped bitset/gram set
    assert "SortMergeJoin" not in p


def test_bloom_build_is_single_bit_or_aggregate(spark):
    """The bitset build plan (pinned here because dx62 checkpoints it
    away): one partial+final bit_or aggregate, map-side combinable —
    the only exchange carries partial words."""
    from eth_options_data_pipeline_spark.operators.bloom import bloom_build

    members = spark.range(100).select(
        F.col("id").cast("string").alias("gram"))
    p = plan(bloom_build(members, "gram", 1 << 12))
    assert "bit_or" in p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p


def test_sharded_bloom_confirm_is_shuffle_not_broadcast(all_plans):
    """dx65: the k=3 bitset probes broadcast (shard, word) lookups —
    the probe stream never shuffles during the prune — but the exact
    confirm join is pinned to a SHUFFLE hash join: the large-reference
    regime's plan, where member strings must never broadcast. The
    bitset is a frozen session artifact since r12, so the face plan
    SCANS it (parquet) instead of rebuilding it — the bit_or build
    shape stays pinned at operator level just above."""
    p = all_plans["dx65_sharded_bloom"]
    assert "ShuffledHashJoin" in p, p
    # the BUILD side must be the FIXED member set (right), never the
    # corpus-scaled survivor stream: building survivors OOMed the sf5
    # ramp exactly as a 100 TB run would (r14 build-side audit).
    # EVERY shuffled-hash join must build right — a second SHJ with
    # BuildLeft slipping in (AQE, added join) is exactly the
    # regression this pin exists to catch (ADVICE r14)
    assert_all_shj_build_right(p)
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "bit_or" not in p  # frozen bitset: scanned, never rebuilt
    assert "CartesianProduct" not in p


def test_salted_join_builds_the_dim_side(all_plans):
    """dx61: the salted shuffled-hash join's build side must be the
    dim x salt replication (bounded by construction — salting exists
    to keep it small), never the corpus-scaled fact stream (r14
    build-side audit; the hint previously sat on fact)."""
    p = all_plans["dx61_salted_skew_join"]
    assert_all_shj_build_right(p)


def test_sx12_serve_prunes_to_probed_lists(all_plans):
    """sx12: the inverted-list state is partitioned by (batch_id,
    cell) and the serve-side join against the broadcast probe set
    fires DYNAMIC PARTITION PRUNING on the cell column — at 100 TB
    only the nprobe probed lists are read, not the whole index. Also
    no sort-merge anywhere (tiny broadcast sides + window rank)."""
    p = all_plans["sx12_ann_stream"]
    assert "dynamicpruning" in p.lower(), p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_kept_cache_sites_stay_cached_and_broadcast(all_plans):
    """The r11 cache-hygiene sweep measured +0.5–2.1 s regressions on
    q17/dx13/dx49/q21 when their pinned tables were converted from
    cache() to localCheckpoint: an ExistingRDD has unknown stats, so
    broadcast-decided joins flip to sort-merge (commit 7b95b4f kept
    cache() on exactly these sites). Pin the surviving shape in plans
    so the next well-meaning sweep turns red instead of slow:
    InMemoryTableScan present (the cache is visible) and no
    SortMergeJoin (the flip's symptom)."""
    # q17's cached cohort legs moved into q29_sink_roundtrip (r14 fold)
    for face, min_imts in (("q29_sink_roundtrip", 2),
                           ("dx49_hard_negatives", 2),
                           ("q21_options_pipeline", 1)):
        p = all_plans[face]
        assert p.count("InMemoryTableScan") >= min_imts, (face, p)
        assert "SortMergeJoin" not in p, (face, p)
    # dx13 eagerly checkpoints its edge list at build time, so the
    # returned plan cannot show the shingle cache — tripwire the source
    # instead (same "red, not slow" goal).
    import inspect

    from eth_options_data_pipeline_spark.queries import clusters

    src = inspect.getsource(clusters.dx13_dup_clusters)
    assert ".cache()" in src or "scratch.cache(" in src, (
        "dx13's shingle table must stay a cache (plain .cache() or the "
        "r16 scratch.cache rotation — both register an "
        "InMemoryRelation): converting it to localCheckpoint hid its "
        "stats from the edge-verify joins computed eagerly at build "
        "time and regressed the face in the r11 sweep (commit 7b95b4f)")


def test_ivfadc_scan_is_list_pruned(all_plans):
    """vx07: the ADC scan join carries the coarse CELL in its keys —
    only code rows in probed lists enter the join (at scale: code
    table partitioned by cell => list pruning at the scan); distances
    ride as integer nano-units over codes, never raw embeddings; the
    only nested-loop joins are broadcasts of the 16-row centroid
    table (the vx04 convention)."""
    import re

    p = all_plans["vx07_ivfadc"]
    assert re.search(r"BroadcastHashJoin \[cell#\d+L?, m#\d+, code#", p), p
    assert "dsq_nano" in p
    assert "CartesianProduct" not in p


def test_pergroup_ols_is_one_pass_partial_agg(all_plans):
    """dx63: one scan of events, one partial+final hash aggregate,
    exactly one data exchange (on event_type) — the closed-form math
    runs post-aggregate on grouped scalars. No joins, no windows."""
    p = all_plans["dx63_pergroup_ols"]
    # exactly one DATA exchange (load_table's round-robin small-file
    # spread is the only other one, and it is not keyed)
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "partial_" in p  # map-side combine of the sufficient sums
    assert "Join" not in p
    assert global_window_lines(p) == []


def test_unpivot_is_expand_not_shuffle(all_plans):
    """q46: wide-to-long melt plans as an in-row Expand (4x row
    amplification, no exchange to produce it); the aggregate combines
    map-side so the single hash exchange carries grouped rows only."""
    p = all_plans["q46_unpivot_long"]
    assert "Expand" in p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p


def test_vx07_recall_floor(spark, sf_small, all_plans_raw):
    """IVFADC accuracy guarantee at the tuned operating point
    (nprobe=3, pool=40): mean recall@3 vs exact brute-force cosine
    must hold a 0.8 floor on the fixed test corpus (measured 0.889 —
    the residual misses are inherent to the near-random synthetic
    embeddings: the numpy sweep plateaus at the same value even
    probing ALL cells). Guards against a knob or kernel change
    silently trading accuracy for speed."""
    import numpy as np

    from eth_options_data_pipeline_spark.sources import load_table

    df = all_plans_raw.get("vx07_ivfadc", (None,))[0]
    if df is None:
        df = REGISTRY["vx07_ivfadc"].fn(spark, sf_small)
    got = {}
    for r in df.collect():
        got.setdefault(r["q_id"], set()).add(r["cand_id"])
    emb = (load_table(spark, sf_small, "embeddings")
           .select("vec_id", "embedding").collect())
    ids = np.array([r["vec_id"] for r in emb])
    v = np.array([r["embedding"] for r in emb], dtype=np.float64)
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = vn @ vn.T
    by_id = {int(ids[i]): i for i in range(len(ids))}
    recalls = []
    for q, cands in got.items():
        s = sims[by_id[q]].copy()
        s[by_id[q]] = -2.0
        exact = {int(ids[j]) for j in np.argsort(-s)[:3]}
        recalls.append(len(cands & exact) / 3)
    assert recalls and sum(recalls) / len(recalls) >= 0.8, recalls
