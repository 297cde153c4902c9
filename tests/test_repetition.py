"""Repetition signals vs a brute-force Python reference."""

from __future__ import annotations

import re

import pandas as pd
import pytest

from eth_options_data_pipeline_spark.operators.repetition import (
    DEFAULT_SEG_PATTERN, repetition_stats,
)

DOCS = [
    (0, "Buy now! Buy now! Buy now! Limited offer ends soon."),
    (1, "A clean document. It has three sentences. None of them repeat."),
    (2, "Click here to accept cookies. Some content here. Click here to accept cookies."),
    (3, "word word word word word word"),          # 2-gram loop, no seg repeats
    (4, ""),                                        # degenerate
    (5, "One sentence only."),
]


def _segs(text: str) -> list[str]:
    return [s for s in re.split(r"(?<=[.!?])\s+|\n+", text.strip()) if s]


def _first_occurrence_dedup(xs: list[str]) -> list[str]:
    seen, out = set(), []
    for x in xs:
        if x not in seen:
            seen.add(x)
            out.append(x)
    return out


def _ngrams(words: list[str], n: int) -> list[str]:
    return [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)] if len(words) >= n else []


def brute(text: str) -> dict:
    segs = _segs(text)
    dsegs = _first_occurrence_dedup(segs)
    words = text.strip().lower().split() if text.strip() else [""]

    def frac(dn, n):
        return (n - dn) / n if n else 0.0

    g2, g3 = _ngrams(words, 2), _ngrams(words, 3)
    return {
        "n_segments": len(segs),
        "dup_seg_frac": frac(len(dsegs), len(segs)),
        "dup_seg_char_frac": frac(sum(map(len, dsegs)), sum(map(len, segs))),
        "max_seg_repeats": max((segs.count(d) for d in dsegs), default=0),
        "dup_2gram_frac": frac(len(set(g2)), len(g2)),
        "dup_3gram_frac": frac(len(set(g3)), len(g3)),
    }


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))


def test_stats_match_brute_force(spark, docs_df):
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(docs_df).collect()}
    for did, text in DOCS:
        want = brute(text)
        for k, v in want.items():
            assert got[did][k] == pytest.approx(v), (did, k, got[did][k], v)


def test_stats_never_null(spark, docs_df):
    for r in repetition_stats(docs_df).collect():
        assert all(v is not None for v in r.asDict().values()), r


def test_shuffle_free_plan(spark, docs_df):
    plan = repetition_stats(docs_df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pathological_doc_bounded_time(spark):
    """50k segments in ONE document must finish promptly — the naive
    per-distinct filter-count was O(segments^2) per row and would stall
    a task on exactly this shape; the sorted run-length fold is
    O(n log n)."""
    import time

    n = 50_000
    # half identical, half unique -> exercises both run paths
    text = " ".join(["Repeated line."] * (n // 2)
                    + [f"Unique line {i}." for i in range(n // 2)])
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    start = time.monotonic()
    row = repetition_stats(df).collect()[0]
    elapsed = time.monotonic() - start
    assert row["max_seg_repeats"] == n // 2
    assert row["n_segments"] == n
    assert elapsed < 60, f"took {elapsed:.1f}s"


def test_smoke_on_documents_table(spark, sf_small):
    from eth_options_data_pipeline_spark.sources import load_table
    docs = load_table(spark, sf_small, "documents")
    out = repetition_stats(docs)
    assert out.count() == docs.count()
    row = out.agg({"dup_2gram_frac": "max"}).first()
    assert 0.0 <= row[0] <= 1.0
