"""Distributed exact order statistics (quantiles) without a
single-reducer buffer.

The scale problem: Spark's exact ``percentile`` over ONE group plans a
single ObjectHashAggregate buffer holding EVERY value — a serial
bottleneck at test scale (it was the one face leg that did not speed
up between a loaded and a quiet box) and an OOM at 100 TB, where no
executor holds a column of the corpus. The sketch
(``percentile_approx``) is the aggregation-path answer; this module is
the exact path, used where the exact value is the point (verifying the
sketch's rank-error contract, qx48).

Plan shape — distributed selection by value bucketing:

  1. one sketch pass collects ``num_buckets - 1`` approximate split
     values (balance hints only — correctness never depends on them);
  2. every row maps to a bucket ROW-LOCALLY: the count of split
     values <= v (a literal-array fold, monotone in v, so buckets are
     ordered, contiguous value ranges and equal values share a
     bucket — no shuffle, no sampled partitioner whose boundaries
     could re-draw between actions);
  3. one count pass gives each bucket's size, hence every bucket's
     global rank OFFSET (driver-side cumsum over ``num_buckets``
     integers — bounded materialization, the ranges.py convention);
  4. the target global ranks (two bracketing ranks per quantile,
     ``floor(q*(n-1))`` and its successor) resolve to (bucket,
     local-rank) pairs in Python; only the <= 2*len(qs) buckets that
     hold a target are shuffled into a bucket-PARTITIONED ranking
     window (never a global window) and gathered;
  5. linear interpolation ``lo + (hi - lo) * frac`` — the
     ``quantile_cont`` contract both Spark's ``percentile`` and
     DuckDB implement.

Every stage is parallel and every driver transfer bounded (the split
panel, the bucket counts, the bracketing values). At 100 TB
``num_buckets`` scales with the cluster, each bucket's ranking task
sees ~1/num_buckets of the column, and a skewed bucket only skews its
own task — the sketch pass can be re-run with finer splits if balance
matters; correctness never does.

NULLs are excluded (the SQL-aggregate convention); NaN would sort
AFTER +inf in Spark's double ordering (caller's responsibility to
scrub first — operators/clean.py f12 is the repo's scrubber).

No counterpart in the reference (row-oriented options pipeline,
main.py:43-351, holds everything in one pandas frame); distributed
selection by range bucketing is the published exact baseline the
GK/KLL sketch papers compare against.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# row_number() is IntegerType: a RANKED bucket must stay under this
# (module-level so the refinement loop is testable at a tiny ceiling)
_RANK_CEILING = (1 << 31) - 1

# first attempt's bucket count (the refinement loop grows it 4x)
NUM_BUCKETS = 32


def exact_quantiles(df: DataFrame, col: str, qs: list[float],
                    splits_hint: list[float] | None = None,
                    ) -> list[tuple[float, float]]:
    """Exact linear-interpolated quantiles of ``df[col]``, computed by
    distributed selection (no single-task value buffer anywhere).

    Returns ``[(q, value), ...]`` in ``qs`` order — unrounded Python
    floats (bounded driver materialization: the caller typically
    re-injects them as plan literals). Raises on an empty column.

    ``splits_hint``: optional pre-computed approximate split values
    (e.g. a percentile_approx panel the caller already holds). Used as
    the FIRST attempt's bucket panel, skipping one sketch action; the
    refinement loop re-sketches at growing resolution if any bucket
    overflows the rank ceiling. Splits only steer balance — the
    answers are exact for ANY panel — so results are identical with
    or without the hint (r16 optimization, guide §1.2: fewer passes).
    """
    spark = df.sparkSession
    num_buckets = NUM_BUCKETS
    vals0 = (df.select(F.col(col).cast("double").alias("v"))
               .where(F.col("v").isNotNull()))

    # Per-bucket row ceiling: row_number() is 32-bit, so a RANKED
    # bucket must stay under 2^31 rows or the local rank overflows
    # (ADVICE r12). The loop below refines the split panel (4x more
    # buckets per retry) until every bucket that must be ranked fits;
    # a bucket that CANNOT be split (min == max — equal values share a
    # bucket by construction) needs no ranking at all, since every
    # rank inside it resolves to that one value.
    prev_oversized: list[tuple[float, float, int]] | None = None
    for attempt in range(4):
        # balance hints: approximate split points. Low accuracy is
        # fine — a bad split only unbalances tasks, never answers —
        # but it must SCALE with the panel (r13 review): a fixed
        # accuracy of 100 caps the sketch's resolution at ~n/100
        # ranks, so refinement retries beyond ~100 buckets would
        # collapse to the same effective panel and never subdivide an
        # oversized bucket.
        if attempt == 0 and splits_hint:
            splits = [float(s) for s in splits_hint]
        else:
            fracs = [i / num_buckets for i in range(1, num_buckets)]
            acc = max(100, 4 * num_buckets)
            splits = vals0.agg(
                F.percentile_approx("v", F.lit(fracs), F.lit(acc)).alias("s")
            ).collect()[0]["s"]
            if splits is None:
                raise ValueError(
                    f"exact_quantiles: no non-null values in {col}")
        bounds = F.lit(sorted({float(s) for s in splits}))
        # bucket id = #splits <= v: row-local, monotone, deterministic
        bucket = F.size(F.filter(bounds, lambda b: b <= F.col("v")))
        vals = vals0.select("v", bucket.alias("bkt"))

        stats = {r["bkt"]: (r["cnt"], r["vmin"], r["vmax"]) for r in
                 vals.groupBy("bkt").agg(
                     F.count(F.lit(1)).alias("cnt"),
                     F.min("v").alias("vmin"),
                     F.max("v").alias("vmax")).collect()}
        if not stats:  # hinted first attempt skips the sketch's check
            raise ValueError(
                f"exact_quantiles: no non-null values in {col}")
        counts = {b: c for b, (c, _, _) in stats.items()}
        # splittable oversized bucket -> finer panel and retry; a
        # single-valued oversized bucket is fine (answered directly)
        oversized = [b for b, (c, lo, hi) in stats.items()
                     if c > _RANK_CEILING and lo < hi]
        if not oversized:
            break
        # Refinement can stall (ADVICE r13): a bucket dominated by one
        # huge tie block plus a few minority values never subdivides —
        # percentile_approx's rank resolution (~n/(4*num_buckets))
        # cannot place a split isolating a tiny minority. Stall is
        # tracked PER VALUE RANGE (ADVICE r14): one tie-dominated
        # bucket that stops shrinking must not abort refinement for
        # other oversized buckets still shrinking (those would land in
        # the distinct-value fallback, whose per-bucket window is a
        # single task — exact, but spill-heavy for a high-distinct
        # bucket the panel COULD have subdivided). A current oversized
        # bucket is still shrinking if no previous attempt's oversized
        # range covering its values had an equal-or-smaller count;
        # refine while ANY splittable bucket shrinks, break when all
        # have stalled (the fallback resolves them exactly). This is a
        # balance heuristic only — correctness never depends on it.
        cur = [(stats[b][1], stats[b][2], counts[b]) for b in oversized]
        if prev_oversized is not None:
            def _stalled(lo: float, hi: float, c: int) -> bool:
                parents = [pc for plo, phi, pc in prev_oversized
                           if lo <= phi and plo <= hi]
                return bool(parents) and c >= min(parents)
            if all(_stalled(lo, hi, c) for lo, hi, c in cur):
                break
        prev_oversized = cur
        num_buckets *= 4
    # buckets still past the ceiling after refinement: resolved by the
    # distinct-value cumulative-count path (no row_number) below
    unrefined = {b for b, (c, lo, hi) in stats.items()
                 if c > _RANK_CEILING and lo < hi}
    n = sum(counts.values())
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]

    # bracketing global ranks (1-indexed) per quantile
    brackets: list[tuple[int, int, float]] = []
    need: set[int] = set()
    for q in qs:
        pos = q * (n - 1)  # 0-indexed fractional position
        lo = min(int(math.floor(pos)), n - 1)
        hi = min(lo + 1, n - 1)
        brackets.append((lo + 1, hi + 1, pos - lo))
        need.update((lo + 1, hi + 1))

    # global rank -> (bucket, local rank), pure python over the counts.
    # A single-valued bucket (vmin == vmax) resolves its ranks right
    # here — no window needed, and it is exactly the bucket the 2^31
    # ceiling could not bound (equal values cannot be split apart).
    targets = []
    big_targets = []
    got: dict[int, float] = {}
    for r in sorted(need):
        for b in sorted(counts):
            if offsets[b] < r <= offsets[b] + counts[b]:
                _, vmin, vmax = stats[b]
                if vmin == vmax:
                    got[r] = vmin
                elif b in unrefined:
                    big_targets.append((b, r - offsets[b], r))
                else:
                    targets.append((b, r - offsets[b], r))
                break
    if targets:
        tgt = spark.createDataFrame(targets, "bkt int, rn int, grank long")

        # rank ONLY the buckets holding a target (bucket-LOCAL window,
        # never global); the broadcast panel keeps the bracketing rows
        hot = sorted({b for b, _, _ in targets})
        w = Window.partitionBy("bkt").orderBy("v")
        got.update({r["grank"]: r["v"] for r in
                    (vals.where(F.col("bkt").isin(hot))
                         .withColumn("rn", F.row_number().over(w))
                         .join(F.broadcast(tgt), ["bkt", "rn"])
                         .select("grank", "v")).collect()})

    if big_targets:
        # Unrefinable oversized buckets (a huge tie block plus minority
        # values): rank DISTINCT values, not rows. Per-(bucket, value)
        # counts shrink the window partition to the bucket's distinct
        # count — the tie block that defeated the split panel collapses
        # to ONE row — and a running sum over it gives each value's
        # cumulative row span [cum - c, cum]; the target's local rank
        # selects the value whose span contains it. Counts are longs,
        # so no 2^31 ceiling applies. (A bucket with >2^31 DISTINCT
        # values would make this one task's sort spill-heavy, but such
        # a bucket is exactly the one the split panel CAN subdivide,
        # so it never reaches this path in practice.)
        btgt = spark.createDataFrame(
            big_targets, "bkt int, rn long, grank long")
        hotb = sorted({b for b, _, _ in big_targets})
        wcum = (Window.partitionBy("bkt").orderBy("v")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        spans = (vals.where(F.col("bkt").isin(hotb))
                     .groupBy("bkt", "v")
                     .agg(F.count(F.lit(1)).alias("c"))
                     .withColumn("cum", F.sum("c").over(wcum)))
        got.update({r["grank"]: r["v"] for r in
                    (spans.join(F.broadcast(btgt), "bkt")
                          .where((F.col("cum") >= F.col("rn"))
                                 & (F.col("cum") - F.col("c")
                                    < F.col("rn")))
                          .select("grank", "v")).collect()})

    out = []
    for q, (lo_r, hi_r, frac) in zip(qs, brackets):
        v_lo, v_hi = got[lo_r], got[hi_r]
        out.append((float(q), v_lo + (v_hi - v_lo) * frac))
    return out
