"""Seventh-wave corpus: array functions and tf-idf.

Round-2 consolidation: former q37_range_frame + q38_rank_family moved
into q26_window_battery (analytics2.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.queries.registry import query
from eth_options_data_pipeline_spark.sources import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query(
    "q39_array_funcs",
    sql="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           len(w)                                   AS n_tokens,
           w[1]                                     AS first_tok,
           w[-1]                                    AS last_tok,
           len(list_distinct(w))                    AS n_distinct,
           list_contains(w, 'the')                  AS has_the,
           array_to_string(list_sort(list_distinct(w))[1:3], ',') AS first3_sorted,
           len(list_filter(w, x -> length(x) >= 6)) AS n_long_tokens
    FROM toks
    """,
)
def q39_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery over tokenized text: size / indexing /
    distinct / contains / sort+slice / lambda filter — all codegen
    (no Python), the array-column toolbox for list-typed features."""
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = docs.select("doc_id", w.alias("w"))
    return toks.select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        F.element_at("w", 1).alias("first_tok"),
        F.element_at("w", -1).alias("last_tok"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
        F.array_contains("w", "the").alias("has_the"),
        F.array_join(F.slice(F.array_sort(F.array_distinct("w")), 1, 3), ",").alias("first3_sorted"),
        F.size(F.filter("w", lambda x: F.length(x) >= 6)).alias("n_long_tokens"),
    )


@query(
    "dx12_tfidf_top_term",
    sql="""
    WITH tokens AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY term
    ), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tokens)
    SELECT doc_id, term, tf, df,
           round(tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / df), 6) AS tfidf
    FROM tf JOIN df USING (term)
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df ASC, term) = 1
    """,
)
def dx12_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf: term frequencies (per-doc) x inverse document frequency
    (corpus-wide broadcast), top term per document. Ranking is driven
    by the INTEGER (tf desc, df asc, term) key so cross-engine float
    log() rounding can't flip the winner; the tfidf value itself is a
    rounded payload."""
    docs = t(spark, sf_dir, "documents")
    # cached: the tf, df and n_docs branches each consume the exploded
    # token stream — one materialization instead of three explodes
    from eth_options_data_pipeline_spark.operators import scratch
    tokens = scratch.scoped_cache(
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
            .alias("term")),
        "dx12")
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tokens.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = tokens.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6))
    )
    # top term per doc via min_by on the inverted integer key — the
    # partially-aggregatable form of row_number()==1 (map-side collapse,
    # no per-doc sort; same deterministic (tf desc, df asc, term) order)
    key = F.struct((-F.col("tf")).alias("ntf"), F.col("df"), F.col("term"))
    return (
        scored.groupBy("doc_id")
        .agg(F.min_by(F.struct("term", "tf", "df", "tfidf"), key).alias("top"))
        .select("doc_id", "top.term", "top.tf", "top.df", "top.tfidf")
    )
