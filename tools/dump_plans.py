#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for the headline
queries, with the scale-relevant plan properties called out. Run after
changing any headline query:

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eth_options_data_pipeline_spark.queries import REGISTRY
from eth_options_data_pipeline_spark.session import get_spark

HEADLINERS = {
    "q19_region_revenue": "dimension chain broadcast — the fact table never shuffles "
                          "for the joins; the only exchange is the final small groupBy",
    "q06_keep_last": "tail-300 bounded gather (TakeOrderedAndProject) feeds keep-last; "
                     "the bounded state elides the dedup shuffle entirely",
    "q20_topk_per_group": "WindowGroupLimit pushes rk<=2 into the sort",
    "dx07_minhash_lsh_pairs": "LSH bucket join shuffles band digests, never documents",
    "q21_options_pipeline": "the reference dataflow as ONE Catalyst plan (ladder is a "
                            "broadcast semi-join subtree); the folded O1 output sort "
                            "plans as TakeOrderedAndProject (no global sort)",
    "q35_correlated_scalar": "correlated subquery decorrelated to aggregate + equi-join",
    "vx05_ann_recall": "ANN ground truth + both probe strategies via broadcast bucket "
                       "joins + rerank windows; answers pinned by ordered digests",
    "q45_asof_join": "as-of join via union + ordered window: one shuffle + one sort "
                     "regardless of per-key density (no nested-loop range join)",
    "dx10_neardup_pairs": "LSH banding with the giant-bucket cap: candidate pairs stay "
                          "O(bucket_cap * docs), never the full cross product",
    "dx16_select_to_budget": "token-budget selection as a distributed prefix sum: range "
                             "repartition + per-partition windows + broadcast offsets — "
                             "no global single-task window",
    "dx24_export_shuffle": "deterministic export shuffle: ONE shard hash exchange + "
                           "in-partition sort, no global sort",
    "dx33_range_join": "keyless interval containment bucketized into an equi-join — "
                       "no BroadcastNestedLoopJoin",
    "dx35_perplexity": "LM scoring: count tables joined on their natural keys (model "
                       "never collected); doc bigrams pre-aggregated below the join",
    "dx36_heavy_hitters": "per-partition Arrow summaries then broadcast recount — "
                          "shuffle is O(capacity x partitions), not O(vocabulary)",
    "dx41_classifier_gate": "frozen-classifier scoring: weight table broadcast into the "
                            "token join, ONE per-doc sum shuffle, gate is a plain predicate",
    "qx28_approx_sketches": "sketch verification: exact-distinct AND rank counts from one "
                            "(status, partkey) pre-aggregation — two scans total, no EXPAND",
    "dx20_repetition_stats": "all repetition signals are per-row array expressions (zip_with "
                             "slices + sorted run-length fold) — zero shuffle, linear per doc",
    "dx51_temperature_mix": "temperature weights derived in-plan and BROADCAST back onto "
                            "the fact scan; row amplification is an in-row explode, so the "
                            "fact side never shuffles",
    "dx52_context_windows": "context list and its length share ONE sliding frame — a single "
                            "Window node after one key shuffle, state bounded at k elements",
    "dx53_incremental_agg": "materialized-view maintenance: per-slice partial states "
                            "(map-side combined) merged by a state-row shuffle — raw rows "
                            "never cross the exchange twice",
    "dx50_rolling_anomaly": "trailing z-score from integer-cents frame sums: one key "
                            "shuffle, one ordered frame, exact in any accumulation order",
    "cx02_export_pipeline": "split + temperature-mix + shard as ONE plan: broadcast "
                            "weights, in-row explode amplification, a single corpus-wide "
                            "shard exchange + per-shard position window",
    "dx54_drift_psi": "PSI drift monitor: one scan, one 10-row groupBy, broadcast totals "
                      "— the whole monitor is a single aggregation pass",
    "dx55_bpe_pairs": "BPE pair statistics on the word-frequency table (Sennrich trick): "
                      "corpus scanned once, pair ranking bounded by the symbol alphabet",
    "dx26_zorder_key": "z-order key as grid-cell + static interleave bit chain: the only "
                       "extra cost over the scan is a broadcast one-row bounds pass — "
                       "no global sort, no window (de-scaffolded r09)",
    "dx57_bpe_train": "iterated BPE training round: pair counts explode the |vocab|-bounded "
                      "segmented word table, selection is a 1-row TakeOrdered — the corpus "
                      "is scanned once per job regardless of merge rounds",
    "cx04_token_budget_pack": "BPE count -> budget select -> pack as one pipeline: counting "
                              "is a pure projection, selection keeps the distributed-prefix-"
                              "sum shape, the only Python is the sharded packing kernel",
    "dx58_containment": "near-containment: df-capped inverted index bounds every "
                        "shared-shingle bucket, so its in-row expansion never exceeds "
                        "cap*(cap-1)/2 pair rows per shingle at any corpus size",
    "dx60_minhash_error": "sketch calibration inherits the dx07 posture: candidates "
                          "from the band-key equi-join only; the calibration aggregate "
                          "is k+1 groups of integer micro-sums",
    "dx61_salted_skew_join": "join-side salting: dim replicated by an in-row explode, "
                             "fact salt from row-local hash, ShuffledHashJoin on "
                             "(key, salt) — a hot key spreads across SALT_N reducers",
    "dx66_exactsubstr_cut": "ExactSubstr applied over the session-frozen deletion list "
                            "(the landed-once pipeline split; the list's own digest-only "
                            "plan is pinned by operator tests): the per-doc interval "
                            "arrays broadcast and the cut is pure in-row JVM "
                            "(filter/transform/concat_ws over split words) — the text "
                            "column never shuffles at all",
    "dx63_pergroup_ols": "closed-form OLS per group: five exact int64 sufficient sums "
                         "in one partial+final aggregate — a single keyed exchange of "
                         "five numbers per group, the regression math post-aggregate",
    "dx65_sharded_bloom": "sharded Bloom past the single-bitset cap: (shard, word) "
                          "broadcast bit probes prune >1M-member lookups map-side; the "
                          "exact confirm is a ShuffledHashJoin of survivors only — the "
                          "large-reference plan where member strings never broadcast",
    "vx07_ivfadc": "IVFADC: broadcast coarse centroids + PQ codebook over residuals; "
                   "the ADC scan joins the M-byte code table ON THE CELL KEY, so only "
                   "probed inverted lists enter the join; exact rerank on the top pool",
    "dx64_exact_substr": "ExactSubstr deletion lists: digest-only anchor joins, "
                         "per-(doc, partner, diagonal) island windows, per-doc interval "
                         "merge — no global window, text never leaves the scan stage",
    "qx48_approx_quantiles": "exact quantiles by distributed selection: sketch-derived "
                             "value buckets (row-local, deterministic), bucket counts "
                             "to rank offsets, bracketing ranks from bucket-LOCAL "
                             "windows — no single-group percentile buffer anywhere; "
                             "the returned plan is one conditional-sum rank-check scan",
    "qx53_recursive_cte": "WITH RECURSIVE through the SQL surface: the hierarchy walk "
                          "executes as an iterative UnionLoop — one frontier equi-join "
                          "per tree LEVEL (log n iterations, never row count), the "
                          "parent table pruned to 2 columns inside the loop body",
    "qx54_variant_extract": "semi-structured VARIANT path: parse_json + typed "
                            "variant_get extraction are all row-local — the only "
                            "exchange in the plan is the final 5-group aggregate; "
                            "heterogeneous document schemas coexist in one column",
    "qx55_sql_udf": "SQL-defined scalar functions INLINE into the plan: the "
                    "is_bulk(l_quantity) WHERE clause reaches the parquet scan "
                    "as a pushed-down predicate, and no row-at-a-time call "
                    "boundary appears anywhere — named business logic at zero "
                    "plan cost",
}

SF_DIR = "/root/testdata/sf0.001"


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    spark = get_spark(app_name="dump-plans", master="local[4]", shuffle_partitions=4)
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Auto-generated by `tools/dump_plans.py` (Spark "
        f"{spark.version}, sf0.001 inputs). Each section notes the plan property "
        "that matters at 100 TB; `tests/test_plans.py` asserts these properties "
        "so they cannot silently regress.",
        "",
    ]
    for name, why in HEADLINERS.items():
        df = REGISTRY[name].fn(spark, SF_DIR)
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Why this plan:** {why}")
        out.append("")
        out.append("```")
        out.append(formatted_plan(df).strip())
        out.append("```")
        out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(HEADLINERS)} plans")


if __name__ == "__main__":
    main()
