"""Bloom pre-screen (operators/bloom.py) + per-group OLS
(operators/regression.py): the no-false-negative contract, the
prune-changes-plan-not-answer equality behind dx62, exact-sum OLS vs
a numpy closed-form replica, and the partial-merge identity behind the
one-pass scale claim."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import bloom as bloom_ops
from eth_options_data_pipeline_spark.operators.bloom import (
    _MAX_SHARDS, bloom_build, bloom_layout, bloom_prune, sized_bits,
)
from eth_options_data_pipeline_spark.operators.regression import group_ols
from eth_options_data_pipeline_spark.queries.analytics19 import _bloom_hits


# ------------------------------------------------------------- bloom

def test_sized_bits_envelope():
    assert sized_bits(0) == 1 << 12
    assert sized_bits(1) == 1 << 12
    # ~16 bits/element, next power of two
    assert sized_bits(1000) == 1 << 14
    assert sized_bits(100_000) == 1 << 21
    # clamped: a billion members won't blow up the broadcast
    assert sized_bits(1_000_000_000) == 1 << 24


def test_bloom_never_drops_a_member(spark):
    members = spark.createDataFrame(
        [(f"member {i}",) for i in range(500)], "gram string")
    m = sized_bits(500)
    bloom = bloom_build(members, "gram", m)
    probe = spark.createDataFrame(
        [(f"member {i}",) for i in range(500)]
        + [(f"stranger {i}",) for i in range(2000)], "gram string")
    kept = {r["gram"] for r in
            bloom_prune(probe, "gram", bloom, m).collect()}
    # every true member survives (false negatives are impossible) ...
    assert all(f"member {i}" in kept for i in range(500))
    # ... and at 16 bits/element the stranger fpr is ~0.5%, so the
    # prune must actually prune (generous 10% bound)
    strangers_kept = sum(1 for g in kept if g.startswith("stranger"))
    assert strangers_kept < 200


def test_bloom_build_is_bounded_by_words(spark):
    members = spark.createDataFrame(
        [(f"m{i}",) for i in range(10_000)], "gram string")
    m = 1 << 12  # deliberately undersized: saturates, stays correct
    bloom = bloom_build(members, "gram", m)
    assert bloom.count() <= m // 64
    kept = bloom_prune(members, "gram", bloom, m)
    assert kept.count() == 10_000  # saturation never loses members


def test_bloom_layout_honors_bits_per_element():
    """Past the 2^24 single-shard cap the layout grows SHARDS, not a
    degraded per-element density: achieved bits/element stays within
    [8, 32) (half to double the 16-bit target) at every member count
    until the shard ceiling."""
    assert bloom_layout(1) == (1, 1 << 12)
    assert bloom_layout(100_000) == (1, 1 << 21)
    # the dx62 regime: still one shard
    assert bloom_layout(1_000_000) == (1, 1 << 24)
    # past the cap: shards double as members double
    assert bloom_layout(1_100_000) == (2, 1 << 24)
    assert bloom_layout(4_200_000) == (8, 1 << 24)
    for n in (1_048_577, 3_000_000, 50_000_000, 900_000_000):
        shards, m = bloom_layout(n)
        bpe = shards * m / n
        assert 8 <= bpe < 32, (n, shards, m, bpe)


def test_bloom_layout_raises_past_shard_ceiling(monkeypatch):
    """Past _MAX_SHARDS the layout refuses instead of silently
    degrading below the half-target bits/element floor (ADVICE r11):
    the largest honorable member count is 2^30 (e = 34 -> exactly 1024
    shards); one past that raises with an actionable message."""
    shards, m = bloom_layout(1 << 30)
    assert shards == _MAX_SHARDS and m == 1 << 24
    with pytest.raises(ValueError, match="shard ceiling"):
        bloom_layout((1 << 30) + 1)
    # a raised per-shard cap restores the honorable range
    monkeypatch.setattr(bloom_ops, "_MAX_BITS", 1 << 25)
    shards, m = bloom_layout((1 << 30) + 1)
    assert shards * m / ((1 << 30) + 1) >= 8


def test_bloom_layout_matches_single_shard_sizing():
    """While one shard suffices, bloom_layout and sized_bits agree —
    dx62 (sized_bits) and dx65 (bloom_layout) size identically in the
    shared regime."""
    for n in (0, 1, 1000, 100_000, 1_000_000):
        shards, m = bloom_layout(n)
        assert shards == 1 and m == sized_bits(n)


def test_sharded_bloom_never_drops_a_member(spark, monkeypatch):
    """The no-false-negative contract survives sharding: members land
    in their own shard's bitset and probes look up the same shard, so
    every true member passes regardless of which shard it hashed to.
    A tiny per-shard cap forces a genuinely multi-shard layout."""
    monkeypatch.setattr(bloom_ops, "_MAX_BITS", 1 << 13)
    n_shards, m = bloom_layout(3000)
    assert n_shards >= 4  # the layout actually sharded
    members = spark.createDataFrame(
        [(f"member {i}",) for i in range(3000)], "gram string")
    bloom = bloom_build(members, "gram", m, n_shards=n_shards)
    probe = spark.createDataFrame(
        [(f"member {i}",) for i in range(3000)]
        + [(f"stranger {i}",) for i in range(3000)], "gram string")
    kept = {r["gram"] for r in bloom_prune(
        probe, "gram", bloom, m, n_shards=n_shards).collect()}
    assert all(f"member {i}" in kept for i in range(3000))
    # the shards kept their per-element density, so pruning still works
    strangers_kept = sum(1 for g in kept if g.startswith("stranger"))
    assert strangers_kept < 600


def test_sharded_prune_equals_unsharded_truth(spark, monkeypatch):
    """Sharded prune + exact confirm == plain exact join — the dx65
    invariant at unit scale."""
    members = spark.createDataFrame(
        [(f"v{i}",) for i in range(0, 2000, 2)], "gram string")
    probe = spark.createDataFrame(
        [(f"v{i}",) for i in range(2000)], "gram string")
    monkeypatch.setattr(bloom_ops, "_MAX_BITS", 1 << 12)
    n_shards, m = bloom_layout(1000)
    bits = bloom_build(members, "gram", m, n_shards=n_shards)
    survivors = bloom_prune(probe, "gram", bits, m, n_shards=n_shards)
    confirmed = {r["gram"] for r in survivors.join(members, "gram").collect()}
    assert confirmed == {f"v{i}" for i in range(0, 2000, 2)}


def test_dx62_bloom_path_equals_direct_path(spark, sf_small):
    direct = {tuple(r) for r in
              _bloom_hits(spark, sf_small, use_bloom=False).collect()}
    pruned = {tuple(r) for r in
              _bloom_hits(spark, sf_small, use_bloom=True).collect()}
    assert pruned == direct
    assert direct, "contamination sample empty — widen the bench slice"


# ---------------------------------------------------------------- ols

def _py_ols(pts):
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, y in pts)
    syy = sum(y * y for _, y in pts)
    num = float(n) * sxy - float(sx) * sy
    den = float(n) * sxx - float(sx) * sx
    deny = float(n) * syy - float(sy) * sy
    return (num / den,
            (float(sy) * sxx - float(sx) * sxy) / den,
            num * num / (den * deny))


def test_group_ols_matches_closed_form_replica(spark):
    pts = [(x, 37 * x + 11 + ((x * 7919) % 13) - 6) for x in range(200)]
    df = spark.createDataFrame([("g", x, y) for x, y in pts],
                               "g string, x long, y long")
    row = group_ols(df, ["g"], "x", "y").collect()[0]
    slope, icpt, r2 = _py_ols(pts)
    assert row["n"] == 200
    assert math.isclose(row["slope"], slope, rel_tol=0, abs_tol=0)
    assert math.isclose(row["intercept"], icpt, rel_tol=0, abs_tol=0)
    assert math.isclose(row["r2"], r2, rel_tol=0, abs_tol=0)
    assert 0.99 < row["r2"] <= 1.0  # strong linear signal by design


def test_group_ols_partial_merge_identity(spark):
    """fit(A ∪ B) from summed partials == fit over the union — the
    sufficient statistics are exactly mergeable, which is the whole
    one-pass / map-side-combinable scale claim."""
    a = [("g", x, 5 * x + (x % 7)) for x in range(0, 50)]
    b = [("g", x, 5 * x + (x % 7)) for x in range(50, 120)]
    schema = "g string, x long, y long"
    whole = group_ols(spark.createDataFrame(a + b, schema),
                      ["g"], "x", "y").collect()[0]
    pa = group_ols(spark.createDataFrame(a, schema), ["g"], "x", "y").collect()[0]
    pb = group_ols(spark.createDataFrame(b, schema), ["g"], "x", "y").collect()[0]
    for s in ("n", "sx", "sy", "sxy", "sxx", "syy"):
        assert pa[s] + pb[s] == whole[s]


def test_group_ols_constant_y_r2_handles_zero_variance(spark):
    df = spark.createDataFrame([("g", x, 42) for x in range(10)],
                               "g string, x long, y long")
    row = group_ols(df, ["g"], "x", "y").collect()[0]
    assert row["slope"] == 0.0
    # r2 is 0/0 here; double semantics give NaN, never an error
    assert row["r2"] is None or math.isnan(row["r2"])


def test_bloom_no_false_negatives_randomized(spark):
    """12 hypothesis examples batched into ONE build+prune (the
    suite-budget collector pattern): example g's values ride as
    'g|value' so membership is per-example independent. For every
    example, every member must survive pruning regardless of set
    size, duplicates, unicode, or empty-ish strings."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    cases = []
    values = st.lists(
        st.text(min_size=0, max_size=12), min_size=1, max_size=40)

    @settings(max_examples=12, deadline=None,
              suppress_health_check=list(HealthCheck), derandomize=True)
    @given(members=values, strangers=values)
    def collect(members, strangers):
        cases.append((members, strangers))

    collect()
    member_rows, probe_rows, want = [], [], set()
    for g, (members, strangers) in enumerate(cases):
        for v in members:
            member_rows.append((f"{g}|{v}",))
            want.add(f"{g}|{v}")
        probe_rows.extend((f"{g}|{v}",) for v in members + strangers)
    m = sized_bits(len(member_rows))
    bloom = bloom_build(
        spark.createDataFrame(member_rows, "gram string"), "gram", m)
    kept = {r["gram"] for r in bloom_prune(
        spark.createDataFrame(probe_rows, "gram string"),
        "gram", bloom, m).collect()}
    missing = want - kept
    assert not missing, f"false negatives: {sorted(missing)[:5]}"


def test_group_ols_constant_x_slope_is_null(spark):
    """Zero variance in x: denom = 0, so slope/intercept/r2 are NULL
    via try_divide — the job must not fail under ANSI mode."""
    df = spark.createDataFrame([("g", 5, y) for y in range(10)],
                               "g string, x long, y long")
    row = group_ols(df, ["g"], "x", "y").collect()[0]
    assert row["slope"] is None and row["intercept"] is None


def test_bloom_layout_matches_oracle_sql_formula():
    """dx65's oracle reproduces bloom_layout with exact integer math:
    e = length(bin(16n-1)) clamped at 12, bits = 1<<min(e,24),
    shards = 1<<min(max(e-24,0),10). Sweep the formula pair across
    member counts (including exact powers of two, where a float
    log2 would be one ULP from flipping) so the two engines can never
    silently disagree on the guarantee columns."""
    import duckdb

    ns = [1, 2, 255, 256, 4096, 100_000, 1_048_576, 1_048_577,
          1_100_000, 2 ** 21, 2 ** 21 + 1, 3_000_000, 50_000_000,
          (1 << 30) // 16, (1 << 30) // 16 + 1]
    con = duckdb.connect()
    for n in ns:
        shards, m = bloom_layout(n)
        e_sql, = con.execute(
            f"SELECT greatest(length(bin(16 * {n} - 1)), 12)").fetchone()
        m_sql = 1 << min(e_sql, 24)
        shards_sql = 1 << min(max(e_sql - 24, 0), 10)
        assert (shards_sql, m_sql) == (shards, m), (n, shards, m, e_sql)


def test_fp_micro_fixed_point_matches_oracle_ctes():
    """fp_micro is DEFINED by a pinned integer recurrence (ADVICE r11:
    libm exp() can differ by 1 ulp across platforms and flip a floor).
    Sweep layouts across the whole honorable bits/element range [8,32)
    and assert (a) Python == DuckDB bit-identically, and (b) both are
    within 1 micro of the transcendental they approximate."""
    import math

    import duckdb

    from eth_options_data_pipeline_spark.operators.bloom import (
        fp_micro_fixed_point, fp_micro_oracle_ctes,
    )
    con = duckdb.connect()
    k = 3
    for n in (1, 1000, 100_000, 1_048_576, 1_100_000, 2_000_000,
              4_200_000, 50_000_000, 1 << 30):
        shards, m = bloom_layout(n)
        total = shards * m
        py = fp_micro_fixed_point(k, n, total)
        sql = f"""
        WITH RECURSIVE layout AS (
          SELECT CAST({n} AS BIGINT) AS n_members,
                 CAST({shards} AS BIGINT) AS n_shards,
                 CAST({m} AS BIGINT) AS m_bits_shard
        ),
        {fp_micro_oracle_ctes(k).lstrip()}
        SELECT CAST((ed_fp * ed_fp * ed_fp)
                    // CAST('1000000000000000000000000000000' AS HUGEINT)
                    AS BIGINT) FROM edfp
        """
        got, = con.execute(sql).fetchone()
        assert got == py, (n, py, got)
        true_fp = (1 - math.exp(-k * n / total)) ** 3 * 1_000_000
        assert abs(py - true_fp) <= 1, (n, py, true_fp)
