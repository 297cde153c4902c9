"""Round-8/9 corpus faces: the BPE tokenizer, both sides.

* dx56 — APPLY: tokenize + token-count under a frozen merge table
  (operators/bpe.py token_stream), the inference side every
  mixture/budget/packing decision consumes.
* dx57 — TRAIN: the iterated merge loop (count pairs -> pick top
  pair -> re-segment, N rounds) that welds dx55's round-one pair
  statistics and dx56's frozen-table apply into a driver-checked
  trainer (operators/bpe.py train_merges).

No counterpart in the reference (its pipeline is row-oriented options
data, main.py:43-351); this is LLM-training-corpus tooling at the
layer the brief's "token counting (whitespace + a BPE-ish regex)"
names.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.bpe import (
    FROZEN_MERGES,
    n_tokens,
    pair_counts,
    token_stream_sql,
    tokenize_stats,
    train_merges,
)
from eth_options_data_pipeline_spark.queries.registry import query
from eth_options_data_pipeline_spark.sources import load_table

_PREFIX_LEN = 64


def _bpe_sql() -> str:
    stream = token_stream_sql("text", FROZEN_MERGES)
    n_tok = "length(stream) - length(replace(stream, ' ', ''))"
    return f"""
    WITH s AS (
      SELECT doc_id, length(text) AS n_chars, {stream} AS stream
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST({n_tok} AS BIGINT) AS n_tokens,
           substr(replace(stream, '·', ''), 2, {_PREFIX_LEN}) AS token_prefix,
           CASE WHEN {n_tok} > 0
                THEN round(CAST(n_chars AS DOUBLE) / ({n_tok}), 6)
                ELSE 0.0 END AS chars_per_token
    FROM s
    """


@query("dx56_bpe_tokenize", sql=_bpe_sql())
def dx56_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-merge BPE tokenization as pure JVM string expressions
    (operators/bpe.py token_stream): zero shuffle, zero Python, one
    projection — a 100 TB token count is a map-only pass. The oracle
    replays the identical replace-chain via token_stream_sql, so both
    engines compute the same greedy left-to-right merge semantics;
    token_prefix pins the actual segmentation, not just the count."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tokenize_stats(docs, "text", FROZEN_MERGES, prefix_len=_PREFIX_LEN)


# ----------------------------------------- BPE merge-loop training (dx57)
#
# The one distributed pattern dx55/dx56 left uncovered (VERDICT r08
# item 4): N rounds of select-top-pair -> re-segment -> re-count on
# the |vocab|-bounded segmented word table. The chosen pair flows
# through a broadcast 1-row scalar join into a data-dependent
# replace, so nothing touches the driver; the oracle replays the
# identical loop as a CTE chain (seg_k -> pairs -> top-1 -> seg_{k+1})
# with the same total order (cnt DESC, a, b) at every selection.

_TRAIN_ROUNDS = 3
_TRAIN_FINAL_K = 10

# stream0 must match operators/bpe.py token_stream([]): dotall
# char-symbolization of the word, spaces (absent in split words)
# as the boundary symbol.
_SEG0_SQL = "regexp_replace(replace(w, ' ', '▁'), '(?s)(.)', ' \\1·', 'g')"


def _pairs_cte(name: str, seg: str) -> str:
    """Adjacent-symbol-pair counts over a segmented vocabulary CTE —
    the SQL twin of operators/bpe.py pair_counts on the ``" sym·"``
    wire format (parts are 1-indexed; the trailing split element is
    empty, so pair i spans parts[i+1], parts[i+2])."""
    return f"""{name} AS (
      SELECT ltrim(parts[i + 1]) AS a, ltrim(parts[i + 2]) AS b,
             CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT string_split(stream, '·') AS parts, freq,
                   unnest(range(len(string_split(stream, '·')) - 2)) AS i
            FROM {seg})
      GROUP BY 1, 2
    )"""


def _train_sql() -> str:
    ctes = [
        """words AS (
      SELECT unnest(string_split(trim(text), ' ')) AS w
      FROM documents WHERE text IS NOT NULL
    )""",
        """vocab AS MATERIALIZED (
      SELECT w, count(*) AS freq FROM words WHERE w <> '' GROUP BY w
    )""",
        f"seg0 AS MATERIALIZED (SELECT {_SEG0_SQL} AS stream, freq FROM vocab)",
    ]
    for r in range(1, _TRAIN_ROUNDS + 1):
        ctes.append(_pairs_cte(f"p{r - 1}", f"seg{r - 1}"))
        ctes.append(
            f"t{r} AS MATERIALIZED (SELECT a, b, cnt FROM p{r - 1} "
            f"ORDER BY cnt DESC, a, b LIMIT 1)")
        ctes.append(
            f"""seg{r} AS MATERIALIZED (
      SELECT replace(stream, ' ' || a || '· ' || b || '·',
                     ' ' || a || b || '·') AS stream, freq
      FROM seg{r - 1}, t{r}
    )""")
    ctes.append(_pairs_cte(f"p{_TRAIN_ROUNDS}", f"seg{_TRAIN_ROUNDS}"))
    ctes.append(
        f"""fin AS (
      SELECT 'final' AS part,
             CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS INT) AS rank,
             a, b, cnt
      FROM p{_TRAIN_ROUNDS}
    )""")
    merges = "\n    UNION ALL ".join(
        f"SELECT 'merge' AS part, CAST({r} AS INT) AS rank, a, b, cnt FROM t{r}"
        for r in range(1, _TRAIN_ROUNDS + 1))
    return ("WITH " + ",\n    ".join(ctes) + "\n    " + merges
            + f"\n    UNION ALL SELECT * FROM fin WHERE rank <= {_TRAIN_FINAL_K}")


@query("dx57_bpe_train", sql=_train_sql())
def dx57_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE training: 3 merge rounds learned end-to-end on the
    engine (operators/bpe.py train_merges — pair counts on the
    segmented word-frequency table, top-pair selection under a total
    order, broadcast-scalar re-segmentation), then the learned merge
    table plus the post-training top-10 pair statistics. Repeated
    subplans across rounds collapse via exchange reuse, so the corpus
    is scanned once per job regardless of round count."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    tops, seg = train_merges(docs, "text", rounds=_TRAIN_ROUNDS)
    base = spark.range(1)
    merge_rows = [
        base.select(F.lit("merge").alias("part"),
                    F.lit(r).cast("int").alias("rank"),
                    F.lit(t["a"]).alias("a"), F.lit(t["b"]).alias("b"),
                    F.lit(t["cnt"]).cast("long").alias("cnt"))
        for r, t in enumerate(tops, 1)
    ]
    w = Window.orderBy(F.col("cnt").desc(), "a", "b")
    fin = (pair_counts(seg)
           .orderBy(F.col("cnt").desc(), "a", "b").limit(_TRAIN_FINAL_K)
           .select(F.lit("final").alias("part"),
                   F.row_number().over(w).cast("int").alias("rank"),
                   "a", "b", "cnt"))
    return reduce(DataFrame.unionByName, merge_rows + [fin])


# ------------------------- token-budget pipeline on BPE tokens (cx04)
#
# VERDICT r08 item 6: the budget faces carried whitespace-ish counts;
# a real pipeline's budget currency is the TOKENIZER's. This face
# welds the stack end-to-end: dx56's frozen-BPE n_tokens -> dx16's
# budget selection (distributed prefix sum) -> dx38's greedy packing
# (sharded Arrow kernel), so every stage spends the same currency.

_CX04_BUDGET = 30_000   # corpus selection: "best 30k BPE tokens"
_CX04_PACK = 512        # training-sequence pack budget
_CX04_SHARDS = 4


def _cx04_sql() -> str:
    stream = token_stream_sql("text", FROZEN_MERGES)
    n_tok = "length(stream) - length(replace(stream, ' ', ''))"
    return f"""
    WITH RECURSIVE s AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS quality,
             {stream} AS stream
      FROM documents
    ),
    c AS (
      SELECT doc_id, quality, CAST({n_tok} AS BIGINT) AS toks,
             CAST(sum({n_tok}) OVER (ORDER BY quality DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
      FROM s
    ),
    sel AS MATERIALIZED (
      SELECT doc_id, quality, toks, cum_tokens FROM c
      WHERE cum_tokens <= {_CX04_BUDGET}
    ),
    keyed AS (
      SELECT CAST(doc_id AS BIGINT) AS _id, toks AS _tok,
             CAST(('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
               % {_CX04_SHARDS} AS shard,
             md5('packo|' || CAST(doc_id AS VARCHAR)) AS okey
      FROM sel
    ),
    base AS MATERIALIZED (
      SELECT shard, _id, _tok, okey,
             row_number() OVER (PARTITION BY shard ORDER BY okey, _id) AS rn
      FROM keyed
    ),
    walk AS (
      SELECT shard, rn, _id,
             CAST(0 AS BIGINT) AS pack_seq,
             CAST(0 AS BIGINT) AS offset_in_pack,
             _tok AS pack_tokens,
             CASE WHEN _tok >= {_CX04_PACK} THEN CAST(1 AS BIGINT) ELSE 0 END AS next_seq,
             CASE WHEN _tok >= {_CX04_PACK} THEN CAST(0 AS BIGINT) ELSE _tok END AS next_used
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.shard, b.rn, b._id,
             CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {_CX04_PACK}
                  THEN w.next_seq + 1 ELSE w.next_seq END AS pack_seq,
             CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {_CX04_PACK}
                  THEN 0 ELSE w.next_used END AS offset_in_pack,
             CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {_CX04_PACK}
                  THEN b._tok ELSE w.next_used + b._tok END AS pack_tokens,
             CASE WHEN (CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {_CX04_PACK}
                             THEN b._tok ELSE w.next_used + b._tok END) >= {_CX04_PACK}
                  THEN (CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {_CX04_PACK}
                             THEN w.next_seq + 1 ELSE w.next_seq END) + 1
                  ELSE (CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {_CX04_PACK}
                             THEN w.next_seq + 1 ELSE w.next_seq END) END AS next_seq,
             CASE WHEN (CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {_CX04_PACK}
                             THEN b._tok ELSE w.next_used + b._tok END) >= {_CX04_PACK}
                  THEN 0
                  ELSE (CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {_CX04_PACK}
                             THEN b._tok ELSE w.next_used + b._tok END) END AS next_used
      FROM walk w JOIN base b ON b.shard = w.shard AND b.rn = w.rn + 1
    )
    SELECT w._id AS doc_id_packed, w.shard, w.pack_seq,
           w.shard * {1 << 40} + w.pack_seq AS pack_id,
           w.offset_in_pack, w.pack_tokens,
           s2.quality, s2.cum_tokens
    FROM walk w JOIN sel s2 ON s2.doc_id = w._id
    """


@query("cx04_token_budget_pack", sql=_cx04_sql())
def cx04_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget pipeline with the TOKENIZER as the budget
    currency: frozen-BPE token counts (operators/bpe.py, pure-JVM
    replace chain) feed budget selection (distributed prefix sum, no
    global window — operators/selection.py) feed greedy sequence
    packing (sharded sequential Arrow kernel — operators/packing.py).
    The oracle replays selection as a single global running sum and
    packing as the exact recursive-CTE state walk."""
    from eth_options_data_pipeline_spark.operators.packing import pack_documents
    from eth_options_data_pipeline_spark.operators.selection import select_to_budget

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("quality"), "text")
    # the token count is evaluated after select_to_budget's range
    # exchange, so its sampling job never runs the tokenizer
    sel = select_to_budget(
        docs, "quality", n_tokens(F.col("text"), FROZEN_MERGES).alias("toks"),
        _CX04_BUDGET)
    packed = pack_documents(sel.select("doc_id", "toks"), "doc_id", "toks",
                            budget=_CX04_PACK, n_shards=_CX04_SHARDS)
    return packed.join(
        sel.select(F.col("doc_id").alias("doc_id_packed"),
                   "quality", "cum_tokens"),
        "doc_id_packed",
    )


# ------------------------------------- near-containment dedup (dx58)
#
# The asymmetric dup case Jaccard misses: a short document wholly
# quoted inside a longer one has tiny Jaccard but containment ~1.0
# (operators/containment.py). An inverted index with a
# document-frequency cap bounding every shingle bucket; the engine
# expands each bucket's pairs in-row, the DuckDB oracle below
# self-joins the capped index.

_CONT_N = 3
_CONT_MIN = 0.5
_CONT_DF_CAP = 20

_CONT_SQL = f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '), x -> x <> '') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(ws[i + 1 : i + {_CONT_N}], ' ') AS shingle
      FROM (SELECT doc_id, ws,
                   unnest(range(greatest(len(ws) - {_CONT_N - 1}, 0))) AS i
            FROM w)
    ),
    kept AS (
      SELECT doc_id, shingle FROM sh
      QUALIFY count(*) OVER (PARTITION BY shingle) <= {_CONT_DF_CAP}
    ),
    m AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
    p AS (
      SELECT a.doc_id AS sid, b.doc_id AS bid, count(*) AS shared
      FROM kept a JOIN kept b ON a.shingle = b.shingle
                             AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.sid AS doc_id, p.bid AS contained_in,
           CAST(p.shared AS BIGINT) AS shared,
           CAST(ma.n_sh AS BIGINT) AS m_small,
           CAST(mb.n_sh AS BIGINT) AS m_big,
           round(CAST(p.shared AS DOUBLE) / ma.n_sh, 6) AS containment
    FROM p
    JOIN m ma ON ma.doc_id = p.sid
    JOIN m mb ON mb.doc_id = p.bid
    WHERE (ma.n_sh < mb.n_sh OR (ma.n_sh = mb.n_sh AND p.sid < p.bid))
      AND round(CAST(p.shared AS DOUBLE) / ma.n_sh, 6) >= {_CONT_MIN}
"""


@query("dx58_containment", sql=_CONT_SQL)
def dx58_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-containment pairs: smaller document's word-3-gram shingle
    set >= 50% inside a larger document's. Per-row shingling, a
    df-capped inverted index (every bucket bounded, so its in-row pair
    expansion is bounded per shingle at any corpus size), equi-joins
    only."""
    from eth_options_data_pipeline_spark.operators.containment import (
        containment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return containment_pairs(docs, "text", n=_CONT_N,
                             min_containment=_CONT_MIN,
                             df_cap=_CONT_DF_CAP)


# --------------------------------- vocabulary growth / Heaps law (dx59)
#
# Data-card corpus-health curve: distinct uni/bigram counts as a
# function of corpus position (docs processed in doc_id order, split
# into fixed buckets). A healthy crawl grows ~ tokens^beta (Heaps);
# heavy duplication or contamination flattens the tail. The scale
# shape is one groupBy over the gram space (first occurrence = min
# doc_id — duplicates collapse map-side) + one per-bucket token agg;
# the running sums ride a window over gram_n x buckets rows (~20).

_VG_BUCKETS = 10


_VG_VOCAB_N = 200

_VG_SQL = f"""
    WITH mx AS (SELECT CAST(max(doc_id) AS BIGINT) + 1 AS denom FROM documents),
    w AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    tok AS (
      SELECT CAST(doc_id * {_VG_BUCKETS} // denom AS INT) AS bucket,
             CAST(sum(len(ws)) AS BIGINT) AS bucket_tokens
      FROM w, mx GROUP BY 1
    ),
    grams AS (
      SELECT 1 AS gram_n, doc_id, unnest(ws) AS gram FROM w
      UNION ALL
      SELECT 2 AS gram_n, doc_id, array_to_string(ws[i + 1 : i + 2], ' ') AS gram
      FROM (SELECT doc_id, ws, unnest(range(greatest(len(ws) - 1, 0))) AS i FROM w)
    ),
    stats AS (
      SELECT gram_n, gram, min(doc_id) AS first_doc,
             CAST(count(*) AS BIGINT) AS cnt
      FROM grams GROUP BY 1, 2
    ),
    vocab AS (
      SELECT gram_n, gram FROM (
        SELECT gram_n, gram,
               row_number() OVER (PARTITION BY gram_n
                                  ORDER BY cnt DESC, gram) AS rk
        FROM stats)
      WHERE rk <= {_VG_VOCAB_N}
    ),
    oov AS (
      SELECT g.gram_n, CAST(g.doc_id * {_VG_BUCKETS} // denom AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_instances,
             CAST(count(*) FILTER (WHERE v.gram IS NULL) AS BIGINT) AS n_oov
      FROM grams g CROSS JOIN mx
      LEFT JOIN vocab v ON v.gram_n = g.gram_n AND v.gram = g.gram
      GROUP BY 1, 2
    ),
    newg AS (
      SELECT gram_n, CAST(first_doc * {_VG_BUCKETS} // denom AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS new_grams
      FROM stats, mx GROUP BY 1, 2
    ),
    base AS (
      SELECT g.gram_n, t.bucket,
             coalesce(n.new_grams, 0) AS new_grams, t.bucket_tokens,
             coalesce(o.n_instances, 0) AS n_instances,
             coalesce(o.n_oov, 0) AS n_oov
      FROM tok t
      CROSS JOIN (SELECT 1 AS gram_n UNION ALL SELECT 2) g
      LEFT JOIN newg n ON n.gram_n = g.gram_n AND n.bucket = t.bucket
      LEFT JOIN oov o ON o.gram_n = g.gram_n AND o.bucket = t.bucket
    )
    SELECT gram_n, bucket,
           CAST(new_grams AS BIGINT) AS new_grams,
           CAST(sum(new_grams) OVER (PARTITION BY gram_n ORDER BY bucket
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_grams,
           bucket_tokens,
           CAST(sum(bucket_tokens) OVER (PARTITION BY gram_n ORDER BY bucket
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_tokens,
           CAST(n_instances AS BIGINT) AS n_instances,
           CAST(n_oov AS BIGINT) AS n_oov,
           CASE WHEN n_instances > 0
                THEN round(n_oov * 1.0 / n_instances, 6)
                ELSE CAST(0.0 AS DOUBLE) END AS oov_rate
    FROM base
"""


@query("dx59_vocab_growth", sql=_VG_SQL)
def dx59_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth curve + vocabulary-coverage gate (dx44 folded
    in, r14): per corpus bucket (doc_id order, 10 fixed buckets via a
    broadcast one-row max), new and cumulative distinct uni/bigrams,
    token totals, and the OOV rate against a top-200-per-gram_n vocab.

    Shapes: ONE map-side-combinable groupBy over the gram space now
    serves BOTH legs (min(doc_id) -> growth, count -> vocab ranking —
    the fold removed dx44's separate frequency shuffle); the top-N is
    a rank window that Catalyst bounds with WindowGroupLimit (pinned
    in test_plans.py); the vocab is a <=400-row broadcast against the
    exploded gram stream; the per-bucket OOV agg collapses map-side
    to ~20 groups. The cumulative sums are windows over ~20 rows. At
    100 TB the explode dominates and stays embarrassingly parallel;
    the vocab stays O(N) rows regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.filter(F.split(F.trim(F.col("text")), " "),
                     lambda w: w != F.lit(""))
    w = (docs.where(F.col("text").isNotNull())
         .select("doc_id", words.alias("ws")))
    denom = docs.agg((F.max("doc_id").cast("long") + 1).alias("denom"))

    def bucket(col):
        return F.call_function(
            "div", col * F.lit(_VG_BUCKETS), F.col("denom")).cast("int")

    tok = (w.crossJoin(F.broadcast(denom))
           .groupBy(bucket(F.col("doc_id")).alias("bucket"))
           .agg(F.sum(F.size("ws")).cast("long").alias("bucket_tokens")))
    uni = w.select(F.lit(1).alias("gram_n"), "doc_id",
                   F.explode("ws").alias("gram"))
    k = F.size("ws") - F.lit(1)
    bigrams = F.when(
        k >= F.lit(1),
        F.transform(F.sequence(F.lit(0), k - F.lit(1)),
                    lambda i: F.array_join(
                        F.slice("ws", i + F.lit(1), 2), " ")),
    ).otherwise(F.array().cast("array<string>"))
    bi = w.select(F.lit(2).alias("gram_n"), "doc_id",
                  F.explode(bigrams).alias("gram"))
    inst = uni.unionByName(bi)
    # ONE shuffle over the gram space serves both legs: first
    # occurrence (growth curve) AND frequency (vocab ranking)
    stats = (inst.groupBy("gram_n", "gram")
             .agg(F.min("doc_id").alias("first_doc"),
                  F.count(F.lit(1)).alias("cnt")))
    # top-200 per gram_n by (count desc, gram) — the deterministic
    # tie-break makes the vocab engine-independent; the rk filter
    # bounds the window as WindowGroupLimit (no full per-key sort)
    wv = Window.partitionBy("gram_n").orderBy(F.col("cnt").desc(), "gram")
    vocab = (stats.withColumn("rk", F.row_number().over(wv))
             .where(F.col("rk") <= _VG_VOCAB_N)
             .select("gram_n", "gram", F.lit(True).alias("_in_vocab")))
    # per-bucket OOV: <=400-row broadcast against the gram stream,
    # then a ~20-group map-side-combinable count
    oov = (inst.crossJoin(F.broadcast(denom))
           .select("gram_n", bucket(F.col("doc_id")).alias("bucket"),
                   "gram")
           .join(F.broadcast(vocab), ["gram_n", "gram"], "left")
           .groupBy("gram_n", "bucket")
           .agg(F.count(F.lit(1)).cast("long").alias("n_instances"),
                F.count(F.when(F.col("_in_vocab").isNull(), 1))
                 .cast("long").alias("n_oov")))
    newg = (stats.crossJoin(F.broadcast(denom))
            .groupBy("gram_n", bucket(F.col("first_doc")).alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("new_grams")))
    gram_ns = spark.range(1, 3).select(F.col("id").cast("int").alias("gram_n"))
    base = (tok.crossJoin(F.broadcast(gram_ns))
            # both sides are <= gram_n x bucket (~20-row) aggregates:
            # broadcast explicitly so the static plan never shows the
            # SMJ that AQE would have to convert at runtime
            .join(F.broadcast(newg), ["gram_n", "bucket"], "left")
            .join(F.broadcast(oov), ["gram_n", "bucket"], "left")
            .select("gram_n", "bucket",
                    F.coalesce("new_grams", F.lit(0)).cast("long").alias("new_grams"),
                    "bucket_tokens",
                    F.coalesce("n_instances", F.lit(0)).cast("long").alias("n_instances"),
                    F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov")))
    cw = (Window.partitionBy("gram_n").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return base.select(
        "gram_n", "bucket", "new_grams",
        F.sum("new_grams").over(cw).cast("long").alias("cum_grams"),
        "bucket_tokens",
        F.sum("bucket_tokens").over(cw).cast("long").alias("cum_tokens"),
        "n_instances", "n_oov",
        F.when(F.col("n_instances") > 0,
               F.round(F.col("n_oov") / F.col("n_instances"), 6))
         .otherwise(F.lit(0.0)).alias("oov_rate"),
    )


# --------------------------------- JSONL + CSV source roundtrip (qx51)
#
# JSONL is the dominant LLM-corpus interchange format; CSV the
# long-tail one. The corpus text is injected with the characters that
# break naive writers (double quote, comma, newline, backslash —
# derived from doc_id so both engines build the identical string),
# written out in BOTH formats, read back with pinned schemas, and
# digested. The oracle computes the digest straight from parquet: a
# hash match proves each roundtrip is byte-lossless THROUGH the
# escaping paths (JSON string escapes; CSV quoting + multiLine read).

_AUG_SQL = ("text || ' \"q,' || chr(10) || '\\' || CAST(doc_id AS VARCHAR)")

_QX51_SQL = f"""
    SELECT doc_id,
           CAST(length({_AUG_SQL}) AS BIGINT) AS n_chars_aug,
           md5({_AUG_SQL}) AS digest_jsonl,
           md5({_AUG_SQL}) AS digest_csv
    FROM documents
"""


@query("qx51_textfmt_roundtrip", sql=_QX51_SQL)
def qx51_textfmt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2-family source-format matrix: JSONL and CSV roundtrips of
    escape-hostile text must be byte-lossless. Eager at construction
    (two scratch writes, q29-style); the read-back schemas are pinned
    (schema-on-read, no inference on the hot path) and the CSV leg
    exercises quoting + multiLine embedded newlines."""
    import os
    import tempfile

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = F.concat(F.col("text"), F.lit(' "q,\n\\'),
                   F.col("doc_id").cast("string"))
    staged = docs.select("doc_id", aug.alias("text_aug"))
    # One per-session scratch tree reused across invocations (qx46/
    # qx47 pattern — overwritten, never accumulated; VERDICT r09 #4).
    root = os.path.join(
        tempfile.gettempdir(),
        f"textfmt_rt_{spark.sparkContext.applicationId}",
        os.path.basename(os.path.normpath(sf_dir)))
    jdir, cdir = os.path.join(root, "j"), os.path.join(root, "c")
    staged.write.mode("overwrite").json(jdir)
    # RFC-4180 quoting on BOTH sides (Spark's default escape is a
    # backslash; escape='"' doubles embedded quotes instead)
    staged.write.mode("overwrite").option("header", "true") \
        .option("escape", '"').csv(cdir)

    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text_aug", StringType())])
    jback = spark.read.schema(schema).json(jdir)
    cback = (spark.read.schema(schema)
             .option("header", "true").option("multiLine", "true")
             .option("escape", '"')
             .csv(cdir))
    j = jback.select("doc_id",
                     F.length("text_aug").cast("long").alias("n_chars_aug"),
                     F.md5(F.col("text_aug")).alias("digest_jsonl"))
    c = cback.select(F.col("doc_id").alias("doc_id_c"),
                     F.md5(F.col("text_aug")).alias("digest_csv"))
    return j.join(c, j["doc_id"] == c["doc_id_c"]).select(
        "doc_id", "n_chars_aug", "digest_jsonl", "digest_csv")
