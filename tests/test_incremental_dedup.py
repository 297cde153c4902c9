"""Incremental near-dup screening vs an exact Python replica of the
md5-minhash-LSH pipeline (same shingles, same hashes, same bands)."""

from __future__ import annotations

import hashlib
import itertools

import pandas as pd
import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import text as tx
from eth_options_data_pipeline_spark.operators.incremental_dedup import (
    build_band_index, screen_batch,
)

HISTORY = [
    (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (1, "one two three four five six seven eight nine ten eleven twelve"),
    (2, "completely different historical document about nothing in particular today"),
]
NEW = [
    # exact copy of history doc 0 -> history dup
    (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    # near copy of history doc 1 (one word changed at the end)
    (11, "one two three four five six seven eight nine ten eleven thirteen"),
    # fresh content
    (12, "spark catalyst plans declarative pipelines over immense distributed data"),
    # exact copy of new doc 12 -> within-batch dup (larger id flagged)
    (13, "spark catalyst plans declarative pipelines over immense distributed data"),
    # fresh
    (14, "entirely novel text with no resemblance to anything else here"),
]


def _shingles(text: str, n: int = 3) -> set[str]:
    w = text.strip().lower().split()
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _bands(text: str) -> set[str]:
    sh = _shingles(text)
    mh = [min(_md5(f"{j}|{s}") for s in sh) for j in range(tx.MINHASH_K)]
    return {f"{b}|{mh[2 * b]}|{mh[2 * b + 1]}" for b in range(tx.LSH_BANDS)}


def _jac(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def reference_flags():
    """Replay the operator's rules in plain Python."""
    out = {}
    for nid, ntext in NEW:
        hits = []
        for hid, htext in HISTORY:
            if _bands(ntext) & _bands(htext) and _jac(_shingles(ntext), _shingles(htext)) >= 0.5:
                hits.append(("history", hid, _jac(_shingles(ntext), _shingles(htext))))
        for oid, otext in NEW:
            if oid < nid and _bands(ntext) & _bands(otext) \
                    and _jac(_shingles(ntext), _shingles(otext)) >= 0.5:
                hits.append(("batch", oid, _jac(_shingles(ntext), _shingles(otext))))
        if hits:
            best = min(hits, key=lambda h: (-h[2], h[1]))
            out[nid] = {"origin": best[0], "dup_of": best[1],
                        "score": max(h[2] for h in hits)}
    return out


@pytest.fixture(scope="module")
def frames(spark):
    hist = spark.createDataFrame(pd.DataFrame(HISTORY, columns=["doc_id", "text"]))
    new = spark.createDataFrame(pd.DataFrame(NEW, columns=["doc_id", "text"]))
    return hist, new, build_band_index(hist).cache()


def test_screen_matches_reference(spark, frames):
    hist, new, idx = frames
    got = {r["doc_id"]: r for r in screen_batch(new, hist, idx).collect()}
    want = reference_flags()
    assert set(got) == set(want) == {10, 11, 13}
    for nid, w in want.items():
        assert got[nid]["dup_of"] == w["dup_of"], nid
        assert got[nid]["origin"] == w["origin"], nid
        assert got[nid]["score"] == pytest.approx(w["score"])


def test_smoke_on_documents_table(spark, sf_small):
    from eth_options_data_pipeline_spark.sources import load_table
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    hist = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    idx = build_band_index(hist)
    flagged = screen_batch(new, hist, idx)
    # verdicts only reference new docs, witnesses only valid ids
    assert flagged.where(F.col("doc_id") % 2 == 0).count() == 0
    assert flagged.where(F.col("score") < 0.5).count() == 0
