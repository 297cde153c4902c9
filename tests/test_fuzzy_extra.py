"""Containment and recall properties of the fuzzy near-dup miners.

dx10_neardup_pairs emits three methods; these tests pin the relations
between them that the docstrings claim:

* ``char_banded`` restricted to the brute slice (doc_id < 60) is a
  subset of ``char_brute`` — LSH banding can only *miss* true pairs,
  never invent ones the exact all-pairs Jaccard rejects (both verify
  with the same >= 0.5 threshold).
* The giant-bucket cap (text.LSH_BUCKET_CAP) drops no verified pair on
  the test corpus: the capped candidate set still contains every pair
  the uncapped banding verifies.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import text as tx
from eth_options_data_pipeline_spark.queries.analytics3 import dx10_neardup_pairs
from eth_options_data_pipeline_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.01"


def _pairs(df, method):
    return {
        (r.doc_a, r.doc_b)
        for r in df.where(F.col("method") == method).select("doc_a", "doc_b").collect()
    }


def test_banded_subset_of_brute_on_slice(spark):
    out = dx10_neardup_pairs(spark, SF_DIR).cache()
    brute = _pairs(out, "char_brute")
    banded_slice = {
        (a, b) for (a, b) in _pairs(out, "char_banded") if a < 60 and b < 60
    }
    assert banded_slice <= brute
    out.unpersist()


def test_bucket_cap_drops_no_verified_pair(spark):
    docs = load_table(spark, SF_DIR, "documents")
    csh = docs.select("doc_id", tx.char_shingles("text").alias("sh")).cache()
    sig = csh.select(
        "doc_id",
        *[c.alias(f"mh{j}") for j, c in enumerate(tx.minhash_signature(F.col("sh")))],
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            tx.band_keys([F.col(f"mh{j}") for j in range(tx.MINHASH_K)])
        ).alias("band_key"),
    )

    def verified(band_df):
        ba, bb = band_df.alias("a"), band_df.alias("b")
        cand = (
            ba.join(bb, (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        sha = csh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
        shb = csh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
        jv = tx.jaccard(F.col("sh_a"), F.col("sh_b"))
        return {
            (r.doc_a, r.doc_b)
            for r in cand.join(sha, "doc_a").join(shb, "doc_b")
            .where(jv >= 0.5).select("doc_a", "doc_b").collect()
        }

    capped = bands.withColumn(
        "bsz", F.count(F.lit(1)).over(Window.partitionBy("band_key"))
    ).where(F.col("bsz") <= tx.LSH_BUCKET_CAP).drop("bsz")

    assert verified(capped) == verified(bands)
    csh.unpersist()


def test_partitions_for_bytes_rule(spark, tmp_path, monkeypatch):
    """The verify join's partitions-scale-with-bytes rule (r15,
    VERDICT r14 item 3): partition count grows linearly with source
    bytes above the floor, respects the cap, and degrades to the
    floor for non-file-backed plans."""
    from eth_options_data_pipeline_spark import sources
    from eth_options_data_pipeline_spark.sources import partitions_for_bytes

    docs = load_table(spark, SF_DIR, "documents")
    floor = spark.sparkContext.defaultParallelism
    # test-scale inputs sit at the floor (plan-identical to pre-rule)
    assert partitions_for_bytes(docs) == floor
    # force the linear region with a tiny per-task budget: 1 KiB of
    # budget against a ~100 KiB file must scale well past the floor,
    # and exactly ceil(bytes * expansion / target)
    import os as _os
    path = _os.path.join(SF_DIR, "documents.parquet")
    want = -(-_os.path.getsize(path) * 2 // 1024)
    monkeypatch.setattr(sources, "PARTITION_EXPANSION", 2.0)
    monkeypatch.setattr(sources, "PARTITION_TARGET_BYTES", 1024)
    assert partitions_for_bytes(docs) == want
    # cap binds
    monkeypatch.setattr(sources, "PARTITION_CAP", 64)
    assert partitions_for_bytes(docs) == 64
    # checkpointed / in-memory plans report no files -> floor
    local = spark.range(10).localCheckpoint(eager=True)
    assert partitions_for_bytes(local) == floor


def _assert_verify_join_plan(p: str, want: int) -> None:
    import re

    shj = [ln for ln in p.splitlines() if "ShuffledHashJoin" in ln]
    assert shj and all("BuildRight" in ln for ln in shj), p
    reparts = re.findall(
        rf"hashpartitioning\(doc_b#\d+L?, {want}\), REPARTITION_BY_NUM", p)
    assert len(reparts) == 2, p


def test_corpus_verify_joins_repartition_both_sides(spark):
    """Plan pin for the partitions-scale-with-bytes rule on the
    corpus x corpus verify join (no bounded side exists, so the SHJ
    build is bounded by partition count): a ShuffledHashJoin building
    RIGHT (the hinted shingle side) with BOTH inputs carrying the
    computed repartition on doc_b (floor = default parallelism at
    test bytes) — so at corpus scale the same plan carries the
    byte-scaled count instead of a fixed 32 (the r14 sf10 OOM).
    Pinned at the OPERATOR (tx.verify_join — the single shape dx10,
    dx13 and dx40 all call; dx13/dx40 eagerly checkpoint their edges,
    so the join is invisible in their face plans) AND on dx10's face
    plan, which exposes it end-to-end.

    The expected count is max(rule, spark.sql.shuffle.partitions):
    Catalyst raises a user repartition(n, key) under a shuffled join
    up to the session conf when n is smaller (r15 finding — the r14
    OOM config had conf 32 AND a fixed 32, so the max() semantics
    never showed; the rule only ever needs to RAISE parallelism, so
    the override is benign at scale)."""
    from eth_options_data_pipeline_spark.sources import partitions_for_bytes

    docs = load_table(spark, SF_DIR, "documents")
    floor = max(partitions_for_bytes(docs),
                int(spark.conf.get("spark.sql.shuffle.partitions")))
    sh = docs.select("doc_id", tx.word_shingles(F.col("text")).alias("sh"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    cand = spark.createDataFrame([(1, 2), (3, 4)],
                                 "doc_a long, doc_b long")
    op = (tx.verify_join(cand, sha, shb, docs)
          ._jdf.queryExecution().executedPlan().toString())
    _assert_verify_join_plan(op, floor)

    face = (dx10_neardup_pairs(spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString())
    _assert_verify_join_plan(face, floor)


def test_join_keeps_larger_user_repartition(spark):
    """Engine-behavior canary for the partitions rule: Catalyst raises
    a user repartition(n, key) under a shuffled join to
    max(n, spark.sql.shuffle.partitions) — the rule's scale posture
    depends on the n > conf direction SURVIVING (byte-scaled counts
    above the session default are what bound SHJ build memory at
    corpus scale). If an engine upgrade started clamping user counts
    down to the conf, partitions_for_bytes would silently stop
    working; this pins the direction we rely on."""
    import re

    conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = conf * 4
    a = spark.range(100).select(F.col("id").alias("k"))
    b = spark.range(100).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    j = a.repartition(n, "k").join(
        b.repartition(n, "k").hint("shuffle_hash"), "k")
    p = j._jdf.queryExecution().executedPlan().toString()
    assert re.findall(rf"hashpartitioning\(k#\d+L?, {n}\)", p), p
