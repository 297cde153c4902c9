"""streaming/landing.py: the batch_id landing, the landed-state read,
the versioned-state helper, and the guard that keeps the protocol in
that one module."""

from __future__ import annotations

import json
import os
import pathlib
import re

import pytest

from eth_options_data_pipeline_spark.streaming.landing import (
    VersionedState, land, landed,
)

# stateful-stream tests run their queries at 2 shuffle partitions
# (see conftest.stream_parts)
pytestmark = pytest.mark.usefixtures("stream_parts")

PKG = pathlib.Path(__file__).resolve().parent.parent / "eth_options_data_pipeline_spark"


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_replayed_land_overwrites_only_its_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    land(spark.createDataFrame([(1,), (2,)], "x long"), path, 0)
    land(spark.createDataFrame([(10,)], "x long"), path, 1)
    # a replay of batch 0 with different rows replaces batch 0 alone
    land(spark.createDataFrame([(3,)], "x long"), path, 0)
    got = spark.read.parquet(path)
    assert _rows(got, "batch_id", "x") == [(0, 3), (1, 10)]


def test_landed_none_without_data_and_excludes_batch(spark, tmp_path):
    path = str(tmp_path / "t")
    assert landed(spark, path) is None
    # an empty batch lands no data files
    land(spark.createDataFrame([], "x long"), path, 0)
    assert landed(spark, path) is None
    (pathlib.Path(path) / "_SUCCESS").touch()
    assert landed(spark, path) is None
    assert landed(spark, path, exclude_batch=0) is None

    land(spark.createDataFrame([(1,)], "x long"), path, 1)
    land(spark.createDataFrame([(2,)], "x long"), path, 2)
    assert _rows(landed(spark, path), "x") == [(1,), (2,)]
    assert _rows(landed(spark, path, exclude_batch=2), "batch_id", "x") == [
        (1, 1)]


def test_versioned_state_prunes_to_current_plus_replay_base(spark, tmp_path):
    state = VersionedState(str(tmp_path / "s"), "_p_v")
    assert state.committed() == []
    assert state.read_before(spark, 5) is None
    assert state.read_latest(spark) is None
    for b in range(4):
        state.commit(spark.createDataFrame([(b,)], "v long"), b)
    assert state.committed() == [2, 3]
    assert _rows(state.read_before(spark, 3), "v") == [(2,)]
    assert _rows(state.read_latest(spark), "v") == [(3,)]

    # a crashed, markerless version is never read, and the next
    # commit above it prunes it
    crashed = state.path(4)
    os.makedirs(crashed)
    (pathlib.Path(crashed) / "part-0.parquet").write_text("not parquet")
    assert state.committed() == [2, 3]
    assert _rows(state.read_before(spark, 5), "v") == [(3,)]
    state.commit(spark.createDataFrame([(5,)], "v long"), 5)
    assert state.committed() == [3, 5]
    assert sorted(os.listdir(state.root)) == ["_p_v3", "_p_v5"]
    # a replay of batch 5 bases on 3, never on its own version
    assert _rows(state.read_before(spark, 5), "v") == [(3,)]
    # another prefix in the same root is not this state's version
    os.makedirs(os.path.join(state.root, "_p_vx"))
    assert state.committed() == [3, 5]


def test_versioned_state_reset_on_fresh_checkpoint(spark, tmp_path):
    state = VersionedState(str(tmp_path / "s"), "_p_v")
    for b in range(3):
        state.commit(spark.createDataFrame([(b,)], "v long"), b)
    assert state.committed() == [1, 2]

    # checkpoint committed batches 0..1: the next batch is 2, so v2 is
    # an orphan of a batch that never reached its commit
    commits = tmp_path / "ckpt" / "commits"
    commits.mkdir(parents=True)
    for b in ("0", "1"):
        (commits / b).write_text(json.dumps({"v": 1}))
    state.reset_stale(str(tmp_path / "ckpt"))
    assert state.committed() == [1]
    assert _rows(state.read_latest(spark), "v") == [(1,)]

    # a fresh checkpoint restarts at 0: every version is stale
    state.reset_stale(str(tmp_path / "fresh"))
    assert state.committed() == []
    assert not os.listdir(state.root)


def test_budget_stream_survives_empty_first_batch(spark, tmp_path):
    """An empty first micro-batch leaves docs/ holding only _SUCCESS;
    the next batch must treat that as no prior state instead of failing
    the stream on schema inference."""
    from eth_options_data_pipeline_spark.operators.selection import (
        select_to_budget,
    )
    from eth_options_data_pipeline_spark.streaming.budget_stream import (
        StreamingBudgetSelection,
    )

    schema = "doc_id long, quality long, toks long"
    docs = spark.createDataFrame(
        [(i, (i * 37) % 200, 1 + (i * 11) % 9) for i in range(40)], schema)
    drops = tmp_path / "drops"
    docs.limit(0).coalesce(1).write.parquet(str(drops / "d0"))
    docs.where("doc_id < 25").coalesce(1).write.parquet(str(drops / "d1"))
    # d2 re-delivers doc 5, which must not be counted twice
    docs.where("doc_id >= 25 OR doc_id = 5").coalesce(1).write.parquet(
        str(drops / "d2"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(drops) + "/d*"))
    budget = 150
    sel = StreamingBudgetSelection(str(tmp_path / "state"), budget=budget)
    q = sel.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert q.exception() is None
    cols = ("doc_id", "quality", "toks", "cum_tokens")
    want = _rows(select_to_budget(docs, "quality", "toks", budget), *cols)
    assert want
    assert _rows(sel.selected(spark), *cols) == want


# ------------- one owner for the protocol: structural guard -------------

def _sources(paths):
    return {p: p.read_text() for p in paths}


def test_protocol_lives_only_in_landing():
    """The availableNow chain appears once in the package, and under
    streaming/ only landing.py writes dynamic partition overwrites or
    scans versioned/committed directories."""
    package = _sources(PKG.rglob("*.py"))
    chains = [p for p, src in package.items()
              for _ in re.finditer(r"trigger\(availableNow=True\)", src)]
    assert chains == [PKG / "streaming" / "landing.py"]

    owned = list((PKG / "streaming").glob("*.py"))
    markers = (r"partitionOverwriteMode", r"os\.listdir", r"_SUCCESS",
               r"_v\{")
    offenders = sorted(
        f"{p.relative_to(PKG)}: {m}"
        for p, src in _sources(owned).items() if p.name != "landing.py"
        for m in markers if re.search(m, src))
    assert offenders == []
