"""Token-budget selection vs a Python reference on the documents
table; strict-budget edge cases; hypothesis properties for the
deterministic mixing/shuffle family."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.selection import select_to_budget
from eth_options_data_pipeline_spark.sources import load_table


@pytest.fixture(scope="module")
def scored(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
        # deterministic content-derived "quality"
        (F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("long") % 100)
        .alias("quality"),
    ).cache()


def _reference(rows, budget):
    picked, cum = [], 0
    for r in sorted(rows, key=lambda r: (-r["quality"], r["doc_id"])):
        if cum + r["n_tokens"] > budget:
            break
        cum += r["n_tokens"]
        picked.append((r["doc_id"], cum))
    return picked


def _token_forms():
    """The token count as a column of the input, and as a named Column
    the selection evaluates itself (``+ 0`` keeps it an expression)."""
    return {"n_tokens": "n_tokens", "toks": (F.col("n_tokens") + 0).alias("toks")}


def test_matches_reference(spark, scored):
    rows = scored.collect()
    budget = sum(r["n_tokens"] for r in rows) // 3
    for name, tokens in _token_forms().items():
        out = select_to_budget(scored, "quality", tokens, budget)
        got = [(r["doc_id"], r["cum_tokens"]) for r in
               out.orderBy("cum_tokens").collect()]
        assert got == _reference(rows, budget)
        assert got and got[-1][1] <= budget
        assert out.columns == ["doc_id", "quality", name, "cum_tokens"]


def test_budget_edges(spark):
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2, 3], "n_tokens": [10, 20, 30], "quality": [3, 2, 1]}))
    for tokens in _token_forms().values():
        # exact fit keeps the boundary doc
        assert [r["doc_id"] for r in
                select_to_budget(df, "quality", tokens, 30).collect()] == [1, 2]
        # one token short excludes it
        assert [r["doc_id"] for r in
                select_to_budget(df, "quality", tokens, 29).collect()] == [1]
        # budget smaller than the best doc selects nothing
        assert select_to_budget(df, "quality", tokens, 9).count() == 0


def test_quality_as_token_column(spark):
    """Ranking by the token count itself (cx01's shape) keeps one copy
    of the column."""
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2, 3], "toks": [10, 30, 20]}))
    out = select_to_budget(df, "toks", "toks", 50)
    assert out.columns == ["doc_id", "toks", "cum_tokens"]
    assert sorted(tuple(r) for r in out.collect()) == [(2, 30, 30), (3, 20, 50)]


def test_distributed_prefix_sum_plan(spark, scored):
    """The corpus-sized window must be partitioned (per-range-partition
    running sums), never a single global window; only the tiny offsets
    table may use an unpartitioned window."""
    plan = (select_to_budget(scored, "quality", "n_tokens", 1000)
            ._jdf.queryExecution().executedPlan().toString())
    assert "rangepartitioning" in plan.lower()
    assert "windowspecdefinition(_pid" in plan


def _subtree(lines: list[str], i: int) -> list[str]:
    """The lines of a tree-string node's subtree, the node excluded."""
    def depth(ln):
        return len(ln) - len(ln.lstrip(" :|+-"))
    out = []
    for ln in lines[i + 1:]:
        if depth(ln) <= depth(lines[i]):
            break
        out.append(ln)
    return out


def test_tokenizer_runs_after_range_exchange_once(spark, sf_small):
    """A token Column is evaluated above the range exchange, so the
    range partitioner's sampling job never runs it, and the final
    adaptive plan evaluates it in one projection: the per-partition
    totals branch reuses the ``_pid`` exchange instead of
    re-tokenizing."""
    from eth_options_data_pipeline_spark.operators.bpe import n_tokens

    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", F.length("text").cast("long").alias("quality"), "text")
    out = select_to_budget(docs, "quality",
                           n_tokens(F.col("text")).alias("toks"), 10_000)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0].splitlines()
    ranges = [i for i, ln in enumerate(final) if "Exchange rangepartitioning" in ln]
    assert ranges, plan
    for i in ranges:
        below = _subtree(final, i)
        assert not any("regexp_replace" in ln for ln in below), "\n".join(below)
    assert sum("regexp_replace" in ln for ln in final) == 1, plan


def test_rerun_identical(spark, scored):
    budget = 5000
    a = select_to_budget(scored, "quality", "n_tokens", budget).collect()
    b = select_to_budget(scored, "quality", "n_tokens", budget).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)


# -- hypothesis properties for the deterministic md5 family -----------------

@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**6),
                min_size=1, max_size=40, unique=True),
       st.floats(min_value=0.0, max_value=3.0,
                 allow_nan=False, allow_infinity=False))
def test_weight_source_count_property(spark, ids, weight):
    """floor(w)*n <= kept <= ceil(w)*n, and every id appears
    floor(w) or floor(w)+1 times."""
    from eth_options_data_pipeline_spark.operators.mixing import weight_source
    df = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
    out = weight_source(df, "doc_id", weight).groupBy("doc_id").count().collect()
    whole = int(weight)
    n = len(ids)
    total = sum(r["count"] for r in out)
    assert whole * n <= total <= (whole + 1) * n
    for r in out:
        assert r["count"] in (whole, whole + 1)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**6),
                min_size=1, max_size=40, unique=True))
def test_export_shuffle_is_bijection(spark, ids):
    from eth_options_data_pipeline_spark.operators.export_shuffle import assign_shards
    df = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
    out = assign_shards(df, "doc_id", "seed", 4).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(ids)
    assert all(0 <= r["shard"] < 4 for r in out)
    # distinct ids -> distinct permutation keys (md5 of distinct input)
    assert len({r["_shuffle_key"] for r in out}) == len(ids)
