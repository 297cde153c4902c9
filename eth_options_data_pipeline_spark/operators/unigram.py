"""Unigram-LM tokenizer training (SentencePiece's other published
trainer — Kudo 2018, *Subword Regularization*), re-expressed as a
fixed-iteration Viterbi-EM over Spark DataFrames with ENGINE-EXACT
integer arithmetic.

BPE (operators/bpe.py) is the merge-based pretraining tokenizer; the
unigram LM is the prune-based one: start from a bounded candidate
vocabulary of substrings, iterate (E) segment the corpus under the
current piece probabilities, (M) re-estimate piece counts from usage,
prune to the vocabulary budget. Published trainers run EM over all
segmentations with float log-probs; floats cannot survive a
cross-engine oracle (a 1-ulp libm difference flips an argmax), so this
trainer makes two published-variant substitutions, both documented
knobs rather than hacks:

* **Viterbi-EM** (hard EM — counts from optimal segmentations only),
  the standard deterministic variant of unigram training;
* **bit-length-quantized log-probs**: piece cost = ``bitlen(T) -
  bitlen(cnt)`` (integer ~ ceil(-log2(cnt/T))), the same
  length(bin(x)) identity the repo already pins cross-engine for
  bloom_layout. All DP state is BIGINT; both engines compare equal
  integers, so the trained vocabulary is bit-identical by
  construction.

Tie-handling needs no tie-BREAK at all: the E-step counts a piece
occurrence iff it lies on ANY optimal segmentation path —
``f[i] + w(piece) + b[j] == f[L]`` with forward/backward min-cost
arrays — which is a deterministic integer predicate (the Viterbi
analogue of forward-backward expected counts, restricted to argmax
paths).

Scale shape: the corpus-sized stages are the word-frequency scan
(one groupBy + top-V TakeOrdered) and nothing else — candidate
generation, the per-word DP (arrays of <= max word length, a
broadcast-able literal weight map), and usage aggregation all run
over the BOUNDED top-V word table. The per-round driver
materialization is the MODEL (<= vocab_size + alphabet rows), the
same bounded-loop-state convention as bpe.py's one-merge-per-round
collect — never corpus rows.

No counterpart in the reference (row-oriented options pipeline,
main.py:43-351); extends the tokenizer family (BPE dx55-dx57,
dx59) with the other published pretraining tokenizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INF = 10 ** 9  # not-in-vocab sentinel; DP sums stay far below it


def top_words(docs: DataFrame,
              n_words: int = 200, min_len: int = 3,
              max_len: int = 10) -> DataFrame:
    """Bounded training lexicon: the ``n_words`` most frequent
    lowercase-alpha words of length [min_len, max_len], ties by word.
    The only corpus-scaled stage of the trainer."""
    w = (docs.where(F.col("text").isNotNull())
         .select(F.explode(F.split(F.lower(F.col("text")), " "))
                 .alias("word"))
         .where(F.col("word").rlike("^[a-z]+$")
                & F.length("word").between(min_len, max_len)))
    return (w.groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("freq"))
            .orderBy(F.desc("freq"), "word")
            .limit(n_words))


def substring_counts(words: DataFrame, max_piece: int = 5) -> DataFrame:
    """(piece, cnt) for every substring of length 1..max_piece of the
    lexicon words; cnt sums word frequency per START POSITION (a piece
    occurring twice in a word counts twice)."""
    L = F.length("word")
    subs = F.flatten(F.transform(
        F.sequence(F.lit(1), L),
        lambda i: F.transform(
            F.sequence(F.lit(1), F.least(F.lit(max_piece), L - i + 1)),
            lambda k: F.col("word").substr(i, k))))
    return (words.select("freq", F.explode(subs).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("cnt")))


def _weight_map_col(entries: list[tuple[str, int]]):
    """Literal map<piece, weight> column (broadcast with the plan)."""
    return F.map_from_entries(F.array(*[
        F.struct(F.lit(p).alias("key"), F.lit(w).alias("value"))
        for p, w in entries]))


def _usage_counts(words: DataFrame, entries: list[tuple[str, int]],
                  max_piece: int) -> DataFrame:
    """E-step: per piece, total word-frequency-weighted occurrences on
    optimal segmentation paths. Pure JVM: the min-cost forward and
    backward arrays build with F.aggregate over the word's positions,
    candidate (i, j) spans explode in-row, and the on-path predicate
    is exact integer equality."""
    vmap = _weight_map_col(entries)

    def wt(piece):
        return F.coalesce(F.element_at(F.col("_vmap"), piece),
                          F.lit(INF).cast("long"))

    L = F.length("word")
    mp = F.lit(max_piece)
    fwd = F.aggregate(
        F.sequence(F.lit(1), L),
        F.array(F.lit(0).cast("long")),
        lambda acc, j: F.concat(acc, F.array(F.array_min(F.transform(
            F.sequence(F.greatest(j - mp, F.lit(0)), j - 1,
                       F.lit(1)),
            lambda i: F.element_at(acc, (i + 1).cast("int"))
            + wt(F.col("word").substr(i + 1, j - i)))))))
    bwd = F.aggregate(
        F.sequence(F.lit(1), L),
        F.array(F.lit(0).cast("long")),
        lambda acc, s: F.concat(F.array(F.array_min(F.transform(
            F.sequence(F.lit(1), F.least(mp, s), F.lit(1)),
            lambda k: wt(F.col("word").substr(L - s + 1, k))
            + F.element_at(acc, k.cast("int"))))), acc))
    spans = F.flatten(F.transform(
        F.sequence(F.lit(0), L - 1),
        lambda i: F.transform(
            F.sequence(i + 1, F.least(L, i + mp), F.lit(1)),
            lambda j: F.struct(i.alias("i"), j.alias("j")))))
    dp = (words.withColumn("_vmap", vmap)
          .withColumn("_f", fwd).withColumn("_b", bwd)
          .withColumn("_sp", F.explode(spans))
          .select("word", "freq", "_vmap", "_f", "_b",
                  F.col("_sp.i").alias("i"), F.col("_sp.j").alias("j")))
    piece = F.col("word").substr(F.col("i") + 1, F.col("j") - F.col("i"))
    on_path = (
        (F.element_at("_f", (F.col("i") + 1).cast("int"))
         + wt(piece)
         + F.element_at("_b", (F.col("j") + 1).cast("int")))
        == F.element_at("_f", F.lit(-1)))
    return (dp.where((wt(piece) < INF) & on_path)
            .select(piece.alias("piece"), "freq")
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("usage")))


def apply_unigram(words: DataFrame,
                  entries: list[tuple[str, int]],
                  max_piece: int = 5) -> DataFrame:
    """Segment each lexicon word under a trained (piece, weight)
    model: the CANONICAL optimal segmentation — walk left to right,
    at each position take the LONGEST piece that lies on an optimal
    path (``f[i] + w + b[j] == f[L]``), a deterministic integer choice
    both engines replay identically. Returns (word, freq, pieces).

    Pure JVM: the forward/backward arrays are the training DP, and
    the walk is one more F.aggregate fold whose state is the piece
    array (position = total length consumed so far)."""
    vmap = _weight_map_col(entries)

    def wt(piece):
        return F.coalesce(F.element_at(F.col("_vmap"), piece),
                          F.lit(INF).cast("long"))

    L = F.length("word")
    mp = F.lit(max_piece)
    fwd = F.aggregate(
        F.sequence(F.lit(1), L),
        F.array(F.lit(0).cast("long")),
        lambda acc, j: F.concat(acc, F.array(F.array_min(F.transform(
            F.sequence(F.greatest(j - mp, F.lit(0)), j - 1,
                       F.lit(1)),
            lambda i: F.element_at(acc, (i + 1).cast("int"))
            + wt(F.col("word").substr(i + 1, j - i)))))))
    bwd = F.aggregate(
        F.sequence(F.lit(1), L),
        F.array(F.lit(0).cast("long")),
        lambda acc, s: F.concat(F.array(F.array_min(F.transform(
            F.sequence(F.lit(1), F.least(mp, s), F.lit(1)),
            lambda k: wt(F.col("word").substr(L - s + 1, k))
            + F.element_at(acc, k.cast("int"))))), acc))

    def consumed(acc):
        return F.length(F.array_join(acc, ""))

    def klen(acc):
        i = consumed(acc)
        return F.array_max(F.filter(
            F.sequence(F.lit(1), F.least(mp, L - i), F.lit(1)),
            lambda k: (wt(F.col("word").substr(i + 1, k)) < INF)
            & ((F.element_at("_f", (i + 1).cast("int"))
                + wt(F.col("word").substr(i + 1, k))
                + F.element_at("_b", (i + k + 1).cast("int")))
               == F.element_at("_f", F.lit(-1)))))

    seg = F.aggregate(
        F.sequence(F.lit(1), L),
        F.array().cast("array<string>"),
        lambda acc, _: F.when(consumed(acc) >= L, acc).otherwise(
            F.concat(acc, F.array(
                F.col("word").substr(consumed(acc) + 1,
                                     klen(acc).cast("int"))))))
    return (words.withColumn("_vmap", vmap)
            .withColumn("_f", fwd).withColumn("_b", bwd)
            .withColumn("pieces", seg)
            .select("word", "freq", "pieces"))


def train_unigram(words: DataFrame, rounds: int = 2,
                  vocab_size: int = 80,
                  max_piece: int = 5) -> list[tuple[str, int]]:
    """Fixed-iteration Viterbi-EM unigram training over a bounded
    lexicon. Returns the final (piece, cnt) vocabulary, counts
    add-one-smoothed usage. Driver materialization per round is the
    model only: the alphabet + top-``vocab_size`` pieces."""
    words = words.localCheckpoint(eager=False)
    cands = substring_counts(words, max_piece)
    singles = {r["piece"]: r["cnt"]
               for r in cands.where(F.length("piece") == 1).collect()}
    multi = [(r["piece"], r["cnt"])
             for r in (cands.where(F.length("piece") >= 2)
                       .orderBy(F.desc("cnt"), "piece")
                       .limit(vocab_size).collect())]
    vocab = dict(sorted(singles.items()) + multi)
    for _ in range(rounds):
        total = sum(vocab.values())
        blt = total.bit_length()
        entries = sorted(
            (p, blt - c.bit_length()) for p, c in vocab.items())
        usage = {r["piece"]: r["usage"]
                 for r in _usage_counts(words, entries,
                                        max_piece).collect()}
        kept_multi = sorted(
            ((p, u) for p, u in usage.items()
             if len(p) >= 2 and u >= 1),
            key=lambda t: (-t[1], t[0]))[:vocab_size]
        vocab = {p: usage.get(p, 0) + 1 for p in singles}
        vocab.update({p: u + 1 for p, u in kept_multi})
    return sorted(vocab.items(), key=lambda t: (-t[1], t[0]))
