"""Near-containment detection: documents subsumed by other documents.

Jaccard near-dup (operators/text.py MinHash, queries/fuzzy.py LSH)
misses the asymmetric case: a short document wholly quoted inside a
much longer one has tiny Jaccard similarity but containment ~1.0.
Training-corpus curation treats subsumed documents as duplicates of
their container (the SlimPajama-style cleanup), so containment is its
own first-class dedup statistic:

    containment(A -> B) = |shingles(A) & shingles(B)| / |shingles(A)|

Scale shape (the classic inverted-index pattern, all equi-joins):

  1. word n-gram shingles per document — a per-row projection;
  2. a document-frequency cap drops shingles appearing in more than
     ``df_cap`` documents (boilerplate/stopword n-grams): bounds every
     shingle bucket, so its in-row expansion emits at most
     ``df_cap*(df_cap-1)/2`` pair rows per shingle regardless of corpus
     size — same role as the giant-bucket cap in the MinHash-LSH miner
     (queries/fuzzy.py);
  3. one hash shuffle on the shingle builds the buckets; each bucket
     expands its unordered doc pairs in-row, shared-shingle counts are
     one aggregate over them, and one ratio filter compares them with
     the per-document shingle counts taken from the same buckets.

All counts (numerator AND denominator) are over the capped shingle
space, so the statistic is self-consistent and engine-reproducible.
No counterpart in the reference (row-oriented options pipeline,
main.py:43-351); this extends the brief's dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _expansion_partitions(sh: DataFrame) -> int:
    """Partition count of the shingle exchange under the bucket
    aggregate, which is also the parallelism of the pair expansion
    above it: ``partitions_for_bytes`` when the shingle relation is
    file-backed, else the session parallelism. Both are read from plan
    metadata (file listing), never by running a job."""
    if sh.inputFiles():
        from eth_options_data_pipeline_spark.sources import (
            partitions_for_bytes,
        )
        return partitions_for_bytes(sh)
    return sh.sparkSession.sparkContext.defaultParallelism


def shingle_expr(text_col: str = "text", n: int = 3):
    """The word n-gram shingle array as a Column expression — the ONE
    definition of shingling, shared by shingle_table and
    containment_pairs (and mirrored by the dx58 SQL oracle), so the
    engine and oracle can never silently diverge (ADVICE r09)."""
    words = F.filter(F.split(F.trim(F.col(text_col)), " "),
                     lambda w: w != F.lit(""))
    k = F.size(words) - F.lit(n - 1)
    return F.when(
        k >= F.lit(1),
        F.transform(F.sequence(F.lit(0), k - F.lit(1)),
                    lambda i: F.array_join(
                        F.slice(words, i + F.lit(1), n), " ")),
    ).otherwise(F.array().cast("array<string>"))


def shingle_table(docs: DataFrame, text_col: str = "text", n: int = 3,
                  id_col: str = "doc_id") -> DataFrame:
    """Distinct (doc_id, shingle) word n-grams. Documents with fewer
    than ``n`` words contribute no shingles (and therefore never
    appear in containment output) — the statistic is undefined for
    them. Pure per-row array expressions until the final distinct."""
    return (docs.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("doc_id"),
                    F.explode(shingle_expr(text_col, n)).alias("shingle"))
            .distinct())


def containment_pairs(docs: DataFrame, text_col: str = "text", n: int = 3,
                      min_containment: float = 0.5,
                      df_cap: int = 20) -> DataFrame:
    """Directional near-containment pairs (doc_id, contained_in,
    shared, m_small, m_big, containment): the smaller document's
    capped shingle set overlaps the larger's by at least
    ``min_containment``. Size ties break on doc_id so each unordered
    pair appears exactly once. ``containment`` is rounded to 6 dp for
    cross-engine hash stability.

    One groupBy(shingle) builds the bucket (collect_set dedups the
    per-doc shingle multiplicity in the same shuffle), the df-cap is a
    plain size predicate on the bucket array, and candidate pairs are
    an IN-ROW expansion of the bounded array (each unordered pair once,
    <= cap*(cap-1)/2 per bucket) — the giant-bucket-cap pattern of the
    LSH miner (queries/fuzzy.py), with no self-join and no per-shingle
    window sort.  Shingling is shingle_expr — exploded WITHOUT
    shingle_table's distinct (the collect_set dedups per-doc
    multiplicity inside the same shuffle, saving the extra exchange)."""
    sh = (docs.where(F.col(text_col).isNotNull())
          .select(F.col("doc_id"),
                  F.explode(shingle_expr(text_col, n)).alias("shingle")))
    return pairs_from_shingles(sh, min_containment=min_containment,
                               df_cap=df_cap)


def pairs_from_shingles(sh: DataFrame, min_containment: float = 0.5,
                        df_cap: int = 20) -> DataFrame:
    """containment_pairs from an already-materialized (doc_id,
    shingle) relation — the serve path of the streaming screen
    (streaming/containment_stream.py), which maintains the shingle
    table incrementally and computes pairs from the persisted index.
    Per-doc shingle multiplicity need not be pre-deduped (collect_set
    dedups inside the bucket aggregate). Same plan from here on as
    containment_pairs.

    One shuffle builds the buckets: the hash spread on ``shingle``
    satisfies the aggregate's distribution, and the per-document
    counts ``m`` reuse it. Each unordered pair is expanded once
    (``lo < hi``) and oriented after the ``m`` joins: the side with
    the smaller capped shingle set is ``doc_id``, ties going to the
    lower id."""
    # Spread on the bucket key below the aggregate, sized by
    # _expansion_partitions: AQE sizes a plain aggregate exchange by
    # bytes and cannot see the Generate's pair expansion, so it would
    # coalesce the small bucket table onto a few partitions and starve
    # the expansion. A repartition(n, key) exchange is exempt from that
    # coalescing, and the aggregate adds no exchange of its own above it.
    buckets = (sh.repartition(_expansion_partitions(sh), "shingle")
               .groupBy("shingle")
               .agg(F.collect_set("doc_id").alias("ds"))
               .where(F.size("ds") <= df_cap)
               .where(F.size("ds") >= 1))
    # per-doc shingle counts over the SAME capped space
    m = (buckets.select(F.explode("ds").alias("doc_id"))
         .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")))
    # in-row unordered-pair expansion, bounded by cap*(cap-1)/2 per bucket
    pair_arr = F.flatten(F.transform(
        "ds",
        lambda a: F.transform(F.filter("ds", lambda b: b > a),
                              lambda b: F.struct(a.alias("lo"),
                                                 b.alias("hi"))),
    ))
    pairs = (buckets.select(F.explode(pair_arr).alias("p"))
             .groupBy("p.lo", "p.hi")
             .agg(F.count(F.lit(1)).alias("shared")))
    m_lo = m.select(F.col("doc_id").alias("lo"), F.col("n_sh").alias("m_lo"))
    m_hi = m.select(F.col("doc_id").alias("hi"), F.col("n_sh").alias("m_hi"))
    # lo < hi, so "lo is the smaller set, or the sets tie" is the
    # size rule with ties broken on the lower id
    lo_small = F.col("m_lo") <= F.col("m_hi")
    out = (pairs.join(m_lo, "lo").join(m_hi, "hi")
           .withColumn("m_small", F.least("m_lo", "m_hi"))
           .withColumn("containment",
                       F.round(F.col("shared").cast("double")
                               / F.col("m_small"), 6))
           .where(F.col("containment") >= min_containment))
    return out.select(F.when(lo_small, F.col("lo")).otherwise(F.col("hi"))
                      .alias("doc_id"),
                      F.when(lo_small, F.col("hi")).otherwise(F.col("lo"))
                      .alias("contained_in"),
                      F.col("shared").cast("long").alias("shared"),
                      F.col("m_small").cast("long").alias("m_small"),
                      F.greatest("m_lo", "m_hi").cast("long").alias("m_big"),
                      "containment")
