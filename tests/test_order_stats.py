"""Distributed exact quantiles (operators/order_stats.py).

The operator's contract: for any column, ``exact_quantiles`` returns
the same linearly-interpolated values a single sorted list would give
(the quantile_cont convention shared by Spark's ``percentile`` and
DuckDB), while its plan never buffers the column in one task — range
shuffle, partition-local ranking, bounded driver materialization
(P partition counts + the bracketing values only).
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import order_stats
from eth_options_data_pipeline_spark.operators.order_stats import (
    exact_quantiles,
)

QS = [0.0, 0.25, 0.5, 0.75, 0.95, 1.0]


def _reference(values: list[float], q: float) -> float:
    """Single-node quantile_cont: sort, interpolate at q*(n-1)."""
    s = sorted(values)
    n = len(s)
    pos = q * (n - 1)
    lo = min(int(math.floor(pos)), n - 1)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _check(spark, values, qs=QS, num_buckets=8):
    df = spark.createDataFrame([(v,) for v in values], "v double")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(order_stats, "NUM_BUCKETS", num_buckets)
        got = exact_quantiles(df, "v", qs)
    assert [q for q, _ in got] == [float(q) for q in qs]
    for (q, v) in got:
        expect = _reference(values, q)
        assert v == pytest.approx(expect, abs=1e-9), (
            f"q={q}: got {v}, reference {expect}")


def test_matches_sorted_list_reference_random(spark):
    rng = random.Random(7)
    values = [rng.uniform(-1e4, 1e4) for _ in range(5000)]
    _check(spark, values)


def test_ties_heavy_column(spark):
    rng = random.Random(11)
    values = [float(rng.randint(0, 9)) for _ in range(3000)]
    _check(spark, values)


def test_fewer_rows_than_ranges(spark):
    _check(spark, [3.0, 1.0, 2.0], num_buckets=32)


def test_single_row_and_constant_column(spark):
    _check(spark, [42.0], num_buckets=4)
    _check(spark, [5.0] * 100, num_buckets=4)


def test_rank_ceiling_refines_splits_and_answers_ties(spark, monkeypatch):
    """ADVICE r12: a ranked bucket must fit row_number()'s 32-bit
    range. At a tiny artificial ceiling the operator must (a) refine
    the split panel until splittable buckets fit, and (b) answer
    single-valued buckets directly (they CANNOT be split — equal
    values share a bucket by construction) — same values as the
    sorted-list reference either way."""
    from eth_options_data_pipeline_spark.operators import order_stats

    monkeypatch.setattr(order_stats, "_RANK_CEILING", 40)
    rng = random.Random(13)
    # 300 distinct-ish values -> must refine past 2 buckets
    values = [rng.uniform(0, 100) for _ in range(300)]
    _check(spark, values, num_buckets=2)
    # a giant tie block around the median -> direct-answer path
    values = [1.0] * 10 + [5.0] * 200 + [9.0] * 10
    _check(spark, values, num_buckets=4)


def test_unrefinable_mixed_tie_bucket_falls_back_to_value_ranks(
        spark, monkeypatch):
    """ADVICE r13: a bucket dominated by one huge tie block plus a few
    minority values can NEVER be subdivided by split refinement —
    percentile_approx's rank resolution (~n/accuracy) cannot isolate a
    minority smaller than that. The operator must (a) detect the stall
    (largest oversized bucket stopped shrinking) instead of paying all
    4 full passes, and (b) resolve such buckets exactly by ranking
    DISTINCT values (cumulative spans), matching the sorted-list
    reference for ranks inside AND past the tie block."""
    from eth_options_data_pipeline_spark.operators import order_stats

    monkeypatch.setattr(order_stats, "_RANK_CEILING", 40)
    # 5000-row tie block + 3 minority rows in the same value range:
    # every split the sketch can place lands on the tie value, so the
    # bucket stays [5.0, 5.2] and oversized at every refinement.
    values = [5.0] * 5000 + [5.1, 5.1, 5.2]
    # q=0.5 resolves inside the tie block, q=1.0 at the minority tail,
    # q=0.99985 interpolates across the tie/minority boundary
    _check(spark, values, qs=[0.0, 0.5, 0.99985, 1.0], num_buckets=2)


def test_stalled_tie_range_does_not_abort_other_refinement(
        spark, monkeypatch):
    """ADVICE r14: stall detection is per VALUE RANGE, not a global
    max — a tie-dominated bucket that stops shrinking must not shunt a
    separately-shrinking high-distinct region into the distinct-value
    fallback. Mixed input: an unrefinable tie block in [5.0, 5.2] plus
    300 distinct values in [50, 100]; quantiles land in both regions
    and must match the sorted-list reference."""
    from eth_options_data_pipeline_spark.operators import order_stats

    monkeypatch.setattr(order_stats, "_RANK_CEILING", 40)
    rng = random.Random(29)
    values = ([5.0] * 5000 + [5.1, 5.1, 5.2]
              + [rng.uniform(50, 100) for _ in range(300)])
    _check(spark, values, qs=[0.0, 0.5, 0.97, 1.0], num_buckets=2)


def test_nulls_excluded_and_empty_raises(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (None,), (3.0,)], "v double")
    got = dict(exact_quantiles(df, "v", [0.5]))
    assert got[0.5] == pytest.approx(2.0)
    empty = df.where(F.col("v").isNull())
    with pytest.raises(ValueError):
        exact_quantiles(empty, "v", [0.5])


def test_qx48_returned_plan_has_no_exact_percentile(spark, sf_small):
    """The face's returned plan is the conditional-sum rank check —
    the exact values were computed by distributed selection, so the
    single-group ObjectHashAggregate percentile buffer (the 100 TB
    scale-killer this operator replaces) must not appear anywhere in
    it."""
    from eth_options_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["qx48_approx_quantiles"].fn(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percentile(" not in plan, plan
    rows = {r["q"]: r for r in df.collect()}
    assert set(rows) == {0.25, 0.5, 0.75, 0.95}
    assert all(r["bound_ok"] for r in rows.values())


def test_splits_hint_identical_answers_and_empty_raises(spark):
    """A splits_hint only steers bucket balance — answers must be
    bit-identical with and without it, for hints good (real quantile
    panel), bad (all values in one bucket), and degenerate (empty /
    out-of-range panels); an empty column still raises (r16)."""
    import random

    rng = random.Random(7)
    vals = [(rng.uniform(-50, 50),) for _ in range(3000)]
    df = spark.createDataFrame(vals, "v double")
    qs = [0.1, 0.5, 0.9]
    base = exact_quantiles(df, "v", qs)
    for hint in ([-25.0, 0.0, 25.0], [1e9, 2e9], [0.0], []):
        got = exact_quantiles(df, "v", qs, splits_hint=hint)
        assert got == base, hint
    empty = df.where(F.col("v").isNull())
    with pytest.raises(ValueError):
        exact_quantiles(empty, "v", [0.5], splits_hint=[1.0])
