"""Snapshot diff: per-doc statuses, digest-based change detection
(layout moves are `unchanged`), and the digest-before-join plan shape
(document bodies never cross the exchange)."""

from __future__ import annotations

from eth_options_data_pipeline_spark.operators import corpus_diff
from eth_options_data_pipeline_spark.operators.corpus_diff import (
    snapshot_diff,
)


def test_statuses(spark):
    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(2, "beta"), (3, "GAMMA v2"), (4, "delta")], "doc_id long, text string")
    got = {r["doc_id"]: r["status"]
           for r in snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_null_content_and_multicol(spark, monkeypatch):
    old = spark.createDataFrame(
        [(1, None, "en"), (2, "x", None)], "doc_id long, text string, lang string")
    new = spark.createDataFrame(
        [(1, None, "en"), (2, "x", "en")], "doc_id long, text string, lang string")
    monkeypatch.setattr(corpus_diff, "CONTENT_COLS", ["text", "lang"])
    got = {r["doc_id"]: r["status"]
           for r in snapshot_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed"}


def test_bodies_do_not_cross_the_exchange(spark):
    old = spark.createDataFrame([(1, "a" * 100)], "doc_id long, text string")
    new = spark.createDataFrame([(1, "a" * 100)], "doc_id long, text string")
    plan = (snapshot_diff(old, new)
            ._jdf.queryExecution().optimizedPlan().toString())
    # the projection to (id, digest) must sit BELOW the join: after
    # column pruning no `text` attribute survives into the join node
    join_and_above = plan.split("Join", 1)[0]
    assert "text" not in join_and_above
