"""CDC rolling-hash fingerprints: boundary determinism, the
shift-robustness property that motivates CDC, and Spark chunks
matching the local chunker."""

from __future__ import annotations

from eth_options_data_pipeline_spark.operators.fingerprint import (
    MAX_CHUNK,
    MIN_CHUNK,
    cdc_chunks,
    chunk_boundaries,
)
from eth_options_data_pipeline_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_boundaries_partition_text():
    text = "the quick brown fox jumps over the lazy dog " * 20
    bounds = chunk_boundaries(text)
    assert bounds[-1] == len(text)
    prev = 0
    for b in bounds:
        assert MIN_CHUNK <= b - prev <= MAX_CHUNK or b == len(text)
        prev = b
    assert chunk_boundaries(text) == bounds  # deterministic
    assert chunk_boundaries("") == []


def test_shift_robustness_vs_fixed_offsets():
    """Prepending a sentence must leave most chunk digests intact —
    the property fixed-offset chunking cannot have."""
    import hashlib

    # non-periodic text: exactly-repeating strings are CDC's known
    # degenerate case (a periodic window-hash cycle can miss the
    # boundary residue entirely and every chunk hits MAX_CHUNK)
    base = " ".join(
        f"sentence {i} describes rolling hash chunk number {i * i}"
        for i in range(40))
    shifted = "a brand new leading sentence changes the start. " + base

    def digests(t):
        out, prev = [], 0
        for b in chunk_boundaries(t):
            out.append(hashlib.md5(t[prev:b].encode()).hexdigest())
            prev = b
        return out

    d_base, d_shift = digests(base), digests(shifted)
    shared = set(d_base) & set(d_shift)
    # the vast majority of chunks survive the shift
    assert len(shared) >= 0.7 * len(d_base)

    # fixed-offset chunking at the same granularity shares ~nothing
    def fixed(t, w=64):
        return [hashlib.md5(t[i:i + w].encode()).hexdigest()
                for i in range(0, len(t), w)]
    assert len(set(fixed(base)) & set(fixed(shifted))) <= 1


def test_spark_chunks_match_local(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(20).cache()
    got = cdc_chunks(docs).collect()
    local = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_doc: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        by_doc.setdefault(r["doc_id"], []).append(r)
    import hashlib
    for doc_id, rows in by_doc.items():
        text = local[doc_id]
        bounds = chunk_boundaries(text)
        assert len(rows) == len(bounds)
        prev = 0
        for r, b in zip(rows, bounds):
            assert r["chunk_start"] == prev and r["chunk_len"] == b - prev
            assert r["chunk_digest"] == hashlib.md5(
                text[prev:b].encode()).hexdigest()
            prev = b
    docs.unpersist()
