"""Broadcast Bloom-filter pre-screen for membership-heavy joins.

The scale problem this solves: the contamination screen
(operators/contamination.py) broadcasts the benchmark's *string*
n-gram table. That works while the eval suite is megabytes; it stops
working when the reference set is itself large (a multi-benchmark
union, an URL denylist, a dedup blocklist) — the broadcast would carry
every string. A Bloom filter replaces the string table with a bitset:
``m`` bits carry an arbitrary number of members at ~16 bits/element
for a ~0.5 % false-positive rate, a 100-1000x reduction over the
strings themselves. The probe side then prunes map-side — only rows
whose k hash bits are ALL set ever reach the (exact) confirm join, so
the expensive join runs on the surviving slice.

Scope of the claim (be precise about what the bloom buys): the bitset
removes the string broadcast from the PRUNE path — the stage that must
touch every row of the 100 TB probe side now carries only bits. The
exact CONFIRM join that follows still needs the member strings; its
strategy is the caller's choice. While the reference set broadcasts
comfortably (the dx62 regime), broadcast-confirm keeps the whole
pipeline shuffle-free. When it does not (the 10 GB-blocklist regime),
confirm with a shuffle join — the shuffle then carries only the bloom
SURVIVORS (true members + ~0.5 % false positives), not the full probe
stream, which is the entire point of pruning first. dx65 exercises that large-reference shape end to
end.

Correctness contract: a Bloom filter has NO false negatives. Every
true member passes the bit test, so pruning-then-exact-confirm returns
exactly the same rows as the exact join alone — the filter only
changes the plan, never the answer. (``tests/test_bloom.py`` pins
both halves: result equality with the unpruned path, and strict
pruning at test scale.)

Sharding (past the single-bitset cap): one bitset is capped at
``_MAX_BITS`` = 2^24 bits (2 MiB of longs) to stay broadcast-cheap.
Past ~1 M members that cap would silently degrade the false-positive
rate, so ``bloom_layout`` splits the key space into ``n_shards``
power-of-two shards — each shard an independent bitset of at most
``_MAX_BITS`` bits, keyed by ``pmod(xxhash64(value), n_shards)``. The
bitset table gains a ``shard`` column, probes compute their shard from
the value (row-local, no extra shuffle) and join on (shard, word).
Total broadcast size is ``n_shards * 2 MiB``: 128 shards = 256 MiB of
bits carries ~134 M members at the full 16 bits/element guarantee.

Plan shape (100 TB probe side): the bitset is built on the SMALL side
only — hash each member k times, OR the bits per 64-bit word with a
map-side-combinable ``bit_or`` — yielding at most
``n_shards * m_bits/64`` rows. The probe performs k successive
broadcast-hash joins (word lookup) each immediately filtered on the
bit, so the row stream thins at every step and nothing ever shuffles
during the prune. Spark's own runtime ``InjectRuntimeFilter`` bloom
only fires on equi-join keys it can prove selective; this operator is
the explicit, composable version for when the build side is a
different table than the join demands (n-grams of the benchmark vs
n-grams of the corpus).

No counterpart in the reference (row-oriented options pipeline,
main.py:43-351); Bloom-filter decontamination at corpus scale is the
published pattern (e.g. Dolma / CCNet use Bloom filters for dedup and
decontamination passes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 16 bits/element with k=3 probes -> false-positive rate ~0.5 %
_BITS_PER_ELEMENT = 16
_MIN_BITS = 1 << 12
_MAX_BITS = 1 << 24  # per-SHARD cap: 2 MiB bitset = 262144 longs
_MAX_SHARDS = 1 << 10  # layout ceiling: 1024 shards ~ 1e9 members


def sized_bits(n_elements: int) -> int:
    """Power-of-two single-shard bitset size for ``n_elements``.

    ~16 bits/element, clamped to [2^12, 2^24]. Deterministic in the
    member count only, so both a re-run and an oracle replay size the
    filter identically. Past the cap the per-element density (and so
    the FP rate) degrades — ``bloom_layout`` is the scale path that
    doesn't.
    """
    target = max(_MIN_BITS, _BITS_PER_ELEMENT * max(n_elements, 1))
    m = _MIN_BITS
    while m < target and m < _MAX_BITS:
        m <<= 1
    return m


def bloom_layout(n_elements: int) -> tuple[int, int]:
    """(n_shards, m_bits_per_shard) honoring ~16 bits/element.

    Closed form (mirrored by dx65's oracle SQL): let ``e`` =
    ceil(log2(16 * n)) clamped below by 12; then
    ``m_bits = 2^min(e, 24)`` and ``n_shards = 2^max(0, e - 24)``.
    One shard while a single bitset suffices; past that the shard
    count doubles as members double, so achieved bits/element never
    drops below half the target.

    Raises ``ValueError`` past ``_MAX_SHARDS`` (~1e9 members at the
    default per-shard cap) instead of silently degrading below the
    half-target floor — the same silent-degradation failure mode this
    function exists to fix must not reappear three orders of magnitude
    up. Callers that genuinely need >1e9 members should raise the
    per-shard cap (bigger executors) or shard the MEMBER SET upstream.
    """
    target = _BITS_PER_ELEMENT * max(n_elements, 1)
    e = max(target - 1, 1).bit_length()  # ceil(log2(target))
    e = max(e, _MIN_BITS.bit_length() - 1)
    cap_e = _MAX_BITS.bit_length() - 1
    n_shards = 1 << max(0, e - cap_e)
    if n_shards > _MAX_SHARDS:
        raise ValueError(
            f"bloom_layout: {n_elements} members need {n_shards} shards "
            f"of {1 << cap_e} bits, past the {_MAX_SHARDS}-shard ceiling; "
            f"bits/element would degrade below the documented half-target "
            f"floor. Raise _MAX_BITS or pre-shard the member set.")
    return n_shards, 1 << min(e, cap_e)


# Fixed-point scale for fp_micro_fixed_point: chosen so every
# intermediate fits HUGEINT (ed_fp^3 <= 10^36 < 2^127) and 10^36/10^6
# divides exactly.
_FP_SCALE = 10 ** 12
_FP_TERMS = 15


def fp_micro_fixed_point(k: int, n_members: int, total_bits: int) -> int:
    """floor(1e6 * (1 - e^(-k*n/m))^k') for k'=3, by a PINNED integer
    algorithm — not libm.

    The implied Bloom FP rate is a transcendental of the exact rational
    load k*n/m; two engines' ``exp()`` can differ by 1 ulp and flip a
    ``floor`` near an integer boundary (ADVICE r11). So the guarantee
    column is DEFINED by this fixed-point Taylor evaluation — 15
    alternating terms of e^(-r) at scale 10^12, floor division at each
    step — which any engine with exact integers (Python ints, DuckDB
    HUGEINT) reproduces bit-identically. For the layouts bloom_layout
    emits, r = k/bpe is in (3/32, 3/8], so term 15 is < 10^-18 of the
    scale: the series truncation is far below the emitted micro
    resolution, and the value differs from the true transcendental by
    at most 1 in the last emitted digit — acceptable for a guarantee
    whose point is cross-engine determinism.
    """
    r_num, r_den = k * n_members, total_bits
    t = _FP_SCALE
    acc = _FP_SCALE  # e^(-r) accumulator, fixed-point
    for i in range(1, _FP_TERMS + 1):
        t = (t * r_num) // (r_den * i)
        acc += -t if i % 2 == 1 else t
    ed_fp = _FP_SCALE - acc  # 1 - e^(-r), fixed-point
    return (ed_fp * ed_fp * ed_fp) // (_FP_SCALE ** 3 // 10 ** 6)


def fp_micro_oracle_ctes(k: int) -> str:
    """DuckDB CTE fragments reproducing ``fp_micro_fixed_point``
    exactly (requires WITH RECURSIVE; expects a ``layout`` CTE with
    ``n_members, n_shards, m_bits_shard``). Mirrors the Python loop
    term-for-term in HUGEINT so the two engines can never disagree."""
    return f"""
    expseries AS (
      SELECT 0 AS i,
             CAST({_FP_SCALE} AS HUGEINT) AS t,
             CAST({_FP_SCALE} AS HUGEINT) AS acc,
             CAST({k} AS HUGEINT) * n_members AS r_num,
             CAST(n_shards * m_bits_shard AS HUGEINT) AS r_den
      FROM layout
      UNION ALL
      SELECT i + 1,
             (t * r_num) // (r_den * (i + 1)),
             acc + CASE WHEN (i + 1) % 2 = 1
                        THEN -((t * r_num) // (r_den * (i + 1)))
                        ELSE (t * r_num) // (r_den * (i + 1)) END,
             r_num, r_den
      FROM expseries WHERE i < {_FP_TERMS}
    ),
    edfp AS (
      SELECT CAST({_FP_SCALE} AS HUGEINT) - acc AS ed_fp
      FROM expseries WHERE i = {_FP_TERMS}
    )"""


def shard_of(col, n_shards: int):
    """Row-local shard id of ``col`` (0 for the unsharded layout)."""
    if n_shards <= 1:
        return F.lit(0).cast("int")
    return F.pmod(F.xxhash64(F.lit("bloom-shard"), col),
                  F.lit(n_shards)).cast("int")


def _word_and_bit(col, seed: int, m_bits: int):
    """(word index, bit mask) of hash ``seed`` for value ``col``."""
    pos = F.pmod(F.xxhash64(F.lit("bloom"), F.lit(seed), col), F.lit(m_bits))
    word = (pos / 64).cast("int")
    # call_function: F.shiftleft only takes a literal python int for
    # the shift amount, but the bit index is per-row
    mask = F.call_function(
        "shiftleft", F.lit(1).cast("long"), pos.cast("int") % 64)
    return word, mask


def bloom_build(members: DataFrame, col: str, m_bits: int,
                k: int = 3, n_shards: int = 1) -> DataFrame:
    """Aggregate the members into a (shard, word, bits) bitset table.

    One row per 64-bit word that has at least one bit set — at most
    ``n_shards * m_bits/64`` rows regardless of member count.
    ``bit_or`` is map-side combinable, so the only exchange carries
    partial words. Each member's k positions land in ITS OWN shard's
    bitset (the shard id is a row-local hash of the value), so shards
    are independent filters and the no-false-negative contract holds
    per shard.
    """
    seeded = members.select(
        F.col(col).alias("_member"),
        shard_of(F.col(col), n_shards).alias("shard"),
        F.explode(F.array(*[F.lit(s) for s in range(k)])).alias("_seed"))
    pos = F.pmod(
        F.xxhash64(F.lit("bloom"), F.col("_seed"), F.col("_member")),
        F.lit(m_bits))
    words = seeded.select(
        "shard",
        (pos / 64).cast("int").alias("word"),
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), pos.cast("int") % 64)
        .alias("mask"))
    return words.groupBy("shard", "word").agg(F.bit_or("mask").alias("bits"))


def bloom_prune(probe: DataFrame, col: str, bloom: DataFrame, m_bits: int,
                k: int = 3, n_shards: int = 1) -> DataFrame:
    """Keep only probe rows whose value passes all ``k`` bit tests.

    ``k`` successive joins against the bitset table on (shard, word),
    each filtered immediately — a probe value hashing to an absent
    word (inner join miss) or an unset bit drops on the spot, so the
    stream thins at every step. The bitset table is broadcast (at most
    ``n_shards * 2 MiB``), so the probe side never shuffles. Returns a
    SUPERSET of the true members present in ``probe`` (false positives
    possible, false negatives impossible).
    """
    out = probe.withColumn("_shard", shard_of(F.col(col), n_shards))
    for seed in range(k):
        word, mask = _word_and_bit(F.col(col), seed, m_bits)
        b = bloom.select(F.col("shard").alias(f"_s{seed}"),
                         F.col("word").alias(f"_w{seed}"),
                         F.col("bits").alias(f"_b{seed}"))
        out = (out.join(F.broadcast(b), (F.col("_shard") == F.col(f"_s{seed}"))
                        & (word == F.col(f"_w{seed}")))
               .where(F.col(f"_b{seed}").bitwiseAND(mask) == mask)
               .drop(f"_s{seed}", f"_w{seed}", f"_b{seed}"))
    return out.drop("_shard")
