"""Text fuzzy-dedup operators: shingling, MinHash, SimHash, Jaccard.

All hashes are md5-based (not xxhash) so every step is reproducible in
any engine — the LSH pipeline here is oracle-checkable end-to-end,
which is rare for fuzzy dedup and worth the small md5-vs-xxhash cost.

Scale shape (100 TB): every stage is shuffle-bounded by digests, not
document bodies —
  * signatures: narrow per-doc arrays, no shuffle at all;
  * LSH banding: explode k/b band keys per doc, shuffle on the fixed-
    width band digest, bucket-join inside buckets only (never the
    full cross product);
  * Jaccard verify: only over candidate pairs, joining back to the
    (doc_id -> distinct shingles) arrays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MINHASH_K = 8           # signature length
LSH_BANDS = 4           # bands of rows = MINHASH_K / LSH_BANDS
SIMHASH_BITS = 32       # md5-prefix hash width

# LSH band buckets larger than this are dropped before candidate-pair
# generation. A band shared by hundreds of documents carries no
# discriminating signal (for char shingles it is usually a band of
# ubiquitous English 5-grams), yet contributes O(bucket^2) candidate
# pairs — the classic LSH skew killer at 100 TB. Capping is the
# standard production mitigation (near-dup pipelines for LLM training
# data cap or subsample giant buckets); true near-dup pairs almost
# always share at least one *small* bucket as well, so recall loss is
# minimal (measured zero on the driver testdata at sf0.1: 256/256
# verified pairs survive the cap while candidates drop 918k -> 100k).
LSH_BUCKET_CAP = 64


# -- shingling --------------------------------------------------------------

def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; documents shorter than n words
    collapse to a single whole-document shingle.

    Built with zip_with over shifted slices, NOT element_at inside a
    transform lambda: a lambda body referencing the outer ``words``
    re-evaluates the whole split per element — O(words²) per row —
    whereas HOF arguments are evaluated once per row."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    k = F.size(words)
    m = k - F.lit(n) + 1
    grams = F.slice(words, F.lit(1), m)
    for j in range(1, n):
        grams = F.zip_with(grams, F.slice(words, F.lit(j + 1), m),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(
        F.when(k >= n, grams).otherwise(F.array(F.concat_ws(" ", words))))


def char_shingles(col_name: str) -> Column:
    """Distinct character n-gram shingles over lowercase trimmed text.

    Catches near-dups word shingles miss (reordered words, punctuation
    edits). Splits to a char array once and zips shifted slices — a
    substring(base, i, n) lambda re-evaluates lower(trim(text)) per
    position, O(len²) per row."""
    base = F.lower(F.trim(F.col(col_name)))
    chars = F.split(base, "")
    m = F.length(base) - F.lit(4)
    grams = F.slice(chars, F.lit(1), m)
    for j in range(1, 5):
        grams = F.zip_with(grams, F.slice(chars, F.lit(j + 1), m),
                           lambda a, b: F.concat(a, b))
    return F.array_distinct(
        F.when(F.length(base) >= 5, grams)
        .otherwise(F.array(F.substring(base, 1, 5))))


def char_shingles_sql(text_expr: str) -> str:
    """DuckDB expression mirroring char_shingles (oracle half)."""
    base = f"lower(trim({text_expr}))"
    return (
        f"list_distinct(list_transform(range(0, greatest(length({base}) - 4, 1)), "
        f"i -> substr({base}, i + 1, 5)))"
    )


def shingles_sql(text_expr: str, n: int = 3) -> str:
    """DuckDB expression mirroring word_shingles (oracle half)."""
    w = f"string_split(lower(trim({text_expr})), ' ')"
    # testdata text is single-space separated; regexp split for safety
    w = f"regexp_split_to_array(lower(trim({text_expr})), '\\s+')"
    gram = " || ' ' || ".join(f"{w}[i+{j+1}]" for j in range(n))
    return (
        f"list_distinct(CASE WHEN len({w}) >= {n} "
        f"THEN list_transform(range(0, len({w}) - {n - 1}), i -> {gram}) "
        f"ELSE [array_to_string({w}, ' ')] END)"
    )


# -- MinHash ----------------------------------------------------------------

def minhash_signature(shingles: Column) -> list[Column]:
    """k md5-minhash values: mh_j = min over shingles of md5(j || '|' || s).

    Computed per-row over the shingle array (no explode, no shuffle).
    """
    def hasher(j):
        # single-parameter lambda: a default param would receive the
        # element index from F.transform instead of j
        return lambda s: F.md5(F.concat(F.lit(f"{j}|"), s))

    return [F.array_min(F.transform(shingles, hasher(j))) for j in range(MINHASH_K)]


def minhash_sql(shingles_expr: str, j: int) -> str:
    return f"list_min(list_transform({shingles_expr}, s -> md5('{j}|' || s)))"


def band_keys(mh_cols: list[Column]) -> Column:
    """LSH banding: concatenate rows within each band into one digest
    key, prefixed with the band index so buckets never collide across
    bands. Returns array<string> of length `bands`."""
    rows_per_band = len(mh_cols) // LSH_BANDS
    keys = []
    for b in range(LSH_BANDS):
        chunk = mh_cols[b * rows_per_band:(b + 1) * rows_per_band]
        keys.append(F.concat_ws("|", F.lit(str(b)), *chunk))
    return F.array(*keys)


# -- Jaccard ----------------------------------------------------------------

def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays — int/int division,
    bit-exact across engines."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / union


# -- SimHash ----------------------------------------------------------------

def _word_hash_sql(word_expr: str) -> str:
    return f"CAST(('0x' || substr(md5({word_expr}), 1, 8)) AS BIGINT)"


def simhash(text: Column) -> Column:
    """32-bit SimHash over distinct lowercase words.

    Per word: h = first 8 hex chars of md5 as an unsigned 32-bit int.
    Bit j of the signature is 1 iff strictly more words have bit j set
    than clear. Computed entirely over the in-row word array (the
    100 TB form: one narrow projection, zero shuffles).

    Formulation note: a single ``aggregate`` pass zips each word's bit
    vector into a 32-counter accumulator. The naive alternative —
    32 separate ``size(filter(hs, bit_j))`` sub-expressions — walks the
    word array 32 times and compiles a huge expression tree (HOFs are
    CodegenFallback, so every element visit is an interpreted eval plus
    a multi-second first-run codegen stall); the one-pass form measured
    ~2x faster steady-state and ~6x on first execution at sf0.1.
    """
    words = F.array_distinct(F.split(F.lower(F.trim(text)), r"\s+"))
    hs = F.transform(words, lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"))
    total = F.size(hs)
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(SIMHASH_BITS)])
    counts = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        # two-arg lambdas are safe here: both params are genuine
        # (accumulator, element) / (left, right) pairs, not the
        # index-injection trap of single-array HOFs
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(0)),
    )
    terms = F.zip_with(
        counts, masks,
        lambda c, m: F.when(c * 2 > total, m).otherwise(F.lit(0).cast("long")))
    return F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x)


def word_hashes_sql(text_expr: str) -> str:
    """DuckDB: list of 32-bit md5-prefix hashes of the distinct words."""
    words = f"list_distinct(regexp_split_to_array(lower(trim({text_expr})), '\\s+'))"
    return f"list_transform({words}, w -> {_word_hash_sql('w')})"


def simhash_terms_sql(hs_col: str) -> str:
    """DuckDB: sum-of-bit-terms expression over a column holding the
    word-hash list (use inside a CTE select)."""
    terms = []
    for j in range(SIMHASH_BITS):
        ones = f"len(list_filter({hs_col}, h -> (h & {1 << j}) <> 0))"
        terms.append(f"(CASE WHEN {ones} * 2 > len({hs_col}) THEN CAST({1 << j} AS BIGINT) ELSE 0 END)")
    return " + ".join(terms)


def hamming32(a: Column, b: Column) -> Column:
    """Hamming distance between two 32-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def verify_join(cand: DataFrame, sha: DataFrame, shb: DataFrame,
                source: DataFrame) -> DataFrame:
    """The corpus x corpus exact-verify join shared by the near-dup
    miners (dx10 pairs, dx13 clusters, dx40 leakage-safe split):
    broadcast the 2-longs/row candidate list onto the doc_a shingles
    (the first join moves no shingle arrays), then shuffled-hash join
    the doc_b shingles. BOTH sides are corpus-scaled — no bounded
    build side exists to hint — so the SHJ build is bounded by the
    partitions-scale-with-bytes RULE instead: both join inputs
    repartition to ``partitions_for_bytes(source)`` so per-task build
    memory stays under budget at ANY corpus size (r15, VERDICT r14
    item 3; the r14 sf10 ramp OOMed the fixed 32-partition x 8g
    config, and memory-scales-with-data is the wrong lever when
    partition count is free). Floors to the session default at test
    bytes, so test-scale plans are byte-identical to the pre-rule
    shape. Returns the joined (cand columns, sh_a, sh_b) rows for the
    caller's Jaccard threshold."""
    from eth_options_data_pipeline_spark.sources import partitions_for_bytes

    p_verify = partitions_for_bytes(source)
    return (
        F.broadcast(cand).join(sha, "doc_a")
        .repartition(p_verify, "doc_b")
        .join(shb.repartition(p_verify, "doc_b").hint("shuffle_hash"),
              "doc_b"))
