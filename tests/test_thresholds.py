"""Quantile gate: the exact window face vs a Python replica."""

from __future__ import annotations

import random

from eth_options_data_pipeline_spark.operators import thresholds

KEEP = 0.3


def make_rows(n_per_group: int = 200, seed: int = 5):
    rng = random.Random(seed)
    rows = []
    i = 0
    for g in ["web", "code", "books"]:
        for _ in range(n_per_group):
            rows.append((i, g, round(rng.uniform(0, 100), 6)))
            i += 1
    return rows


def ref_exact(rows, keep_frac):
    kept = set()
    for g in {r[1] for r in rows}:
        grp = sorted([r for r in rows if r[1] == g], key=lambda r: r[2])
        n = len(grp)
        for rank, r in enumerate(grp):   # percent_rank = rank/(n-1)
            if rank / (n - 1) >= 1.0 - keep_frac:
                kept.add(r[0])
    return kept


def test_exact_face_matches_replica(spark):
    rows = make_rows()
    df = spark.createDataFrame(rows, "doc_id long, domain string, score double")
    got = {r["doc_id"] for r in
           thresholds.quantile_gate_exact(df, "domain", "score", KEEP).collect()}
    assert got == ref_exact(rows, KEEP)
