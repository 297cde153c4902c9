"""Stupid-Backoff bigram LM scoring vs an exact Python replica.

The replica recomputes count tables and per-doc scores with plain
dicts using the same tokenization (lowercase, whitespace split, BOS
prepend), so every branch — bigram hit, unigram backoff, OOV floor —
is pinned, including on held-out documents the model never saw.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.lm_quality import (
    ALPHA, BOS, OOV_FLOOR, score_perplexity,
    train_bigram_lm)
from eth_options_data_pipeline_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"


def _tok(t: str) -> list[str]:
    return re.split(r"\s+", t.lower().strip())


def _replica_counts(texts):
    uni, bg, total = Counter(), Counter(), 0
    for t in texts:
        ws = [BOS] + _tok(t)
        uni.update(ws)
        bg.update(zip(ws, ws[1:]))
        total += len(ws) - 1
    w1 = Counter()
    for (a, _), c in bg.items():
        w1[a] += c
    return uni, bg, w1, total


def _replica_score(text, uni, bg, w1, total):
    ws = [BOS] + _tok(text)
    s, n = 0.0, 0
    for a, b in zip(ws, ws[1:]):
        if (a, b) in bg:
            p = bg[(a, b)] / w1[a]
        elif b in uni:
            p = ALPHA * uni[b] / total
        else:
            p = OOV_FLOOR
        s -= math.log2(p)
        n += 1
    return n, s / n


@pytest.fixture(scope="module")
def corpus(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    train = docs.where(F.col("doc_id") < 300)
    rows = docs.collect()
    return docs, train, {r.doc_id: r.text for r in rows}


def test_scores_match_replica_including_heldout(spark, corpus):
    docs, train, texts = corpus
    bigrams, unigrams, total = train_bigram_lm(train)
    uni, bg, w1, rep_total = _replica_counts(
        [t for i, t in texts.items() if i < 300])
    # totals is a LAZY 1-row table now — collect it for the replica
    # check, but the int path below stays covered too
    assert total.first()["n_total"] == rep_total

    # a crafted doc guarantees the OOV-floor branch runs (the synthetic
    # corpus shares its vocabulary, so held-out docs alone never miss)
    oov_text = "zzqxv qqvzk the zzqxv"
    scored_in = docs.unionByName(
        spark.createDataFrame([(99999, oov_text)], ["doc_id", "text"]))
    all_texts = {**texts, 99999: oov_text}
    assert any(w not in uni for w in _tok(oov_text))

    got = {r.doc_id: (r.n_tokens, r.log_ppl)
           for r in score_perplexity(scored_in, bigrams, unigrams, total).collect()}
    assert set(got) == set(all_texts)
    for doc_id, text in all_texts.items():
        n, ppl = _replica_score(text, uni, bg, w1, rep_total)
        assert got[doc_id][0] == n
        assert got[doc_id][1] == pytest.approx(ppl, rel=1e-12)

    # the int fast path divides by the same double -> bit-identical
    got_int = {r.doc_id: (r.n_tokens, r.log_ppl)
               for r in score_perplexity(scored_in, bigrams, unigrams,
                                         rep_total).collect()}
    assert got_int == got


def test_training_counts_match_replica(spark, corpus):
    _, train, texts = corpus
    bigrams, unigrams, total = train_bigram_lm(train)
    uni, bg, w1, _ = _replica_counts(
        [t for i, t in texts.items() if i < 300])
    got_uni = {r.w2: r.c_uni for r in unigrams.collect()}
    assert got_uni == dict(uni)
    got_bg = {(r.w1, r.w2): (r.c_bg, r.c_w1) for r in bigrams.collect()}
    assert got_bg == {k: (c, w1[k[0]]) for k, c in bg.items()}


def test_frozen_lm_slice_key_isolates_models(spark, corpus, monkeypatch):
    """ADVICE r12: the frozen-model cache is keyed by SLICE_KEY, so a
    caller training on a different slice gets its OWN model, not the
    first caller's. Distinct keys must serve distinct count tables;
    the same key must serve the cached one."""
    from eth_options_data_pipeline_spark.operators import lm_quality
    from eth_options_data_pipeline_spark.operators.lm_quality import (
        frozen_bigram_lm,
    )

    docs, _, _ = corpus
    small = docs.where(F.col("doc_id") < 50)
    large = docs.where(F.col("doc_id") < 300)
    monkeypatch.setattr(lm_quality, "SLICE_KEY", "t_lt50")
    bg_a, _, tot_a = frozen_bigram_lm(spark, SF_DIR, small)
    monkeypatch.setattr(lm_quality, "SLICE_KEY", "t_lt300")
    bg_b, _, tot_b = frozen_bigram_lm(spark, SF_DIR, large)
    n_a = tot_a.collect()[0]["n_total"]
    n_b = tot_b.collect()[0]["n_total"]
    assert n_a < n_b  # different slices -> different models
    # same key again: served from the artifact, same totals
    monkeypatch.setattr(lm_quality, "SLICE_KEY", "t_lt50")
    bg_a2, _, tot_a2 = frozen_bigram_lm(
        spark, SF_DIR, docs.where(F.col("doc_id") < 0))  # ignored: cached
    assert tot_a2.collect()[0]["n_total"] == n_a
