"""DSIR importance resampling vs an exact Python replica: bucket
distributions, smoothed log-ratios, per-doc log-weights, and the
Gumbel-top-k selection are all md5-deterministic, so the replica
matches bit-for-bit up to float-sum tolerance."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.dsir import (
    bucket_distribution, dsir_select, importance_weights, log_ratio_table)
from eth_options_data_pipeline_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"
B = 256
SEED = 7


def _tok(t):
    return re.split(r"\s+", t.lower().strip())


def _bucket(w1, w2):
    return int(hashlib.md5(
        (w1 + "\x1f" + w2).encode()).hexdigest()[:8], 16) % B


def _doc_buckets(text):
    ws = _tok(text)
    return Counter(_bucket(a, b) for a, b in zip(ws, ws[1:]))


def _dist(texts):
    c = Counter()
    for t in texts:
        c.update(_doc_buckets(t))
    return c


def _gumbel(doc_id):
    u = (int(hashlib.md5(f"{SEED}|{doc_id}".encode()).hexdigest()[:8], 16)
         + 0.5) / 2 ** 32
    return -math.log(-math.log(u))


@pytest.fixture(scope="module")
def corpora(spark):
    docs = load_table(spark, SF_DIR, "documents")
    raw = docs.select("doc_id", "text")
    target = docs.where(F.col("lang") == "fr").select("doc_id", "text")
    texts = {r.doc_id: r.text for r in docs.collect()}
    fr_ids = {r.doc_id for r in target.select("doc_id").collect()}
    return raw, target, texts, fr_ids


def test_distributions_and_ratios_match_replica(spark, corpora):
    raw, target, texts, fr_ids = corpora
    got_r = {r.bucket: r.c for r in
             bucket_distribution(raw, buckets=B).collect()}
    got_t = {r.bucket: r.c for r in
             bucket_distribution(target, buckets=B).collect()}
    rep_r = _dist(texts.values())
    rep_t = _dist(t for i, t in texts.items() if i in fr_ids)
    assert got_r == dict(rep_r)
    assert got_t == dict(rep_t)

    ratios = log_ratio_table(
        bucket_distribution(target, buckets=B),
        bucket_distribution(raw, buckets=B), B)
    T, R = sum(rep_t.values()), sum(rep_r.values())
    for r in ratios.collect():
        want = (math.log((rep_t.get(r.bucket, 0) + 1) / (T + B))
                - math.log((rep_r.get(r.bucket, 0) + 1) / (R + B)))
        assert r.logratio == pytest.approx(want, rel=1e-12)


def test_weights_and_selection_match_replica(spark, corpora):
    raw, target, texts, fr_ids = corpora
    rep_r = _dist(texts.values())
    rep_t = _dist(t for i, t in texts.items() if i in fr_ids)
    T, R = sum(rep_t.values()), sum(rep_r.values())

    def logratio(b):
        return (math.log((rep_t.get(b, 0) + 1) / (T + B))
                - math.log((rep_r.get(b, 0) + 1) / (R + B)))

    rep_w = {i: sum(n * logratio(b) for b, n in _doc_buckets(t).items())
             for i, t in texts.items()}

    sel = dsir_select(raw, target, n=50, buckets=B, seed=SEED).collect()
    assert len(sel) == 50
    for r in sel:
        assert r.log_weight == pytest.approx(rep_w[r.doc_id], rel=1e-9)
        assert r.key == pytest.approx(
            rep_w[r.doc_id] + _gumbel(r.doc_id), rel=1e-9)
    want_ids = [i for i, _ in sorted(
        ((i, rep_w[i] + _gumbel(i)) for i in texts),
        key=lambda kv: -kv[1])[:50]]
    assert [r.doc_id for r in sel] == want_ids
    # selection should enrich for the target domain vs a uniform draw
    frac = len([i for i in want_ids if i in fr_ids]) / 50
    assert frac > len(fr_ids) / len(texts)


def test_single_token_and_empty_docs_get_zero_weight(spark, corpora):
    raw, target, _, _ = corpora
    extra = spark.createDataFrame(
        [(90001, "solo"), (90002, "")], ["doc_id", "text"])
    ratios = log_ratio_table(
        bucket_distribution(target, buckets=B),
        bucket_distribution(raw, buckets=B), B)
    w = {r.doc_id: r.log_weight for r in
         importance_weights(extra, ratios, B).collect()}
    assert w == {90001: 0.0, 90002: 0.0}


def test_raw_distribution_from_doc_buckets_identical(spark, sf_small):
    """The r16 rewire derives the raw bucket distribution by
    re-aggregating the per-doc bucket table; it must equal the direct
    corpus-level count exactly (integer sums)."""
    from eth_options_data_pipeline_spark.operators import dsir
    from eth_options_data_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    direct = {r["bucket"]: r["c"] for r in
              dsir.bucket_distribution(docs, 64).collect()}
    db = dsir._doc_buckets(docs, "doc_id", "text", 64)
    derived = {r["bucket"]: r["c"] for r in
               db.groupBy("bucket").agg(F.sum("n").alias("c")).collect()}
    assert derived == direct
