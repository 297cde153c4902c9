"""Round-4 corpus wave 4: LM perplexity scoring and exact heavy
hitters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import text as tx
from eth_options_data_pipeline_spark.operators.heavy_hitters import heavy_hitters
from eth_options_data_pipeline_spark.operators.incremental_dedup import (
    build_band_index,
    screen_batch,
)
from eth_options_data_pipeline_spark.operators.lm_quality import (
    score_perplexity,
    frozen_bigram_lm,
)
from eth_options_data_pipeline_spark.queries.registry import query
from eth_options_data_pipeline_spark.sources import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ------------------------------------------------------- perplexity

# Stupid Backoff (Brants et al. 2007): S(w2|w1) = c_bg/c_w1 if seen,
# else alpha * c_uni / N, else the OOV floor. BOS = chr(2) so a
# k-word doc is scored over exactly k events. Train slice: %3 != 0;
# scoring covers the whole corpus so the backoff paths fire.
_PPL_SQL = """
    WITH tw AS (
      SELECT list_prepend(chr(2), regexp_split_to_array(lower(trim(text)), '\\s+')) AS ws
      FROM documents WHERE doc_id % 3 <> 0
    ),
    tokens AS (SELECT unnest(ws) AS w FROM tw),
    uni AS (SELECT w AS w2, count(*) AS c_uni FROM tokens GROUP BY w),
    tb AS (
      SELECT unnest(list_transform(range(1, len(ws)),
                    i -> {'w1': ws[i], 'w2': ws[i+1]})) AS bg
      FROM tw
    ),
    big AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS c_bg FROM tb GROUP BY 1, 2),
    w1c AS (SELECT w1, sum(c_bg) AS c_w1 FROM big GROUP BY w1),
    big2 AS (SELECT big.w1, big.w2, c_bg, c_w1 FROM big JOIN w1c ON w1c.w1 = big.w1),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tokens WHERE w <> chr(2)),
    dw AS (
      SELECT doc_id,
             list_prepend(chr(2), regexp_split_to_array(lower(trim(text)), '\\s+')) AS ws
      FROM documents
    ),
    db0 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                            i -> {'w1': ws[i], 'w2': ws[i+1]})) AS bg
      FROM dw
    ),
    db AS (
      SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2, count(*) AS n
      FROM db0 GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT db.doc_id, db.n,
             CASE WHEN big2.c_bg IS NOT NULL THEN big2.c_bg / CAST(big2.c_w1 AS DOUBLE)
                  WHEN uni.c_uni IS NOT NULL THEN 0.4 * uni.c_uni / (SELECT total FROM nn)
                  ELSE 1e-7 END AS p
      FROM db
      LEFT JOIN big2 ON big2.w1 = db.w1 AND big2.w2 = db.w2
      LEFT JOIN uni ON uni.w2 = db.w2
    )
    SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
           round(-sum(n * log2(p)) / sum(n), 6) AS log_ppl
    FROM scored GROUP BY doc_id
"""


@query("dx35_perplexity", sql=_PPL_SQL)
def dx35_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: train a Stupid Backoff bigram
    LM on a corpus slice (two groupBy-counts — the word-count shape),
    score every document by per-token log2 perplexity. The model is
    joined on its natural key, never broadcast or collected; per-doc
    bigrams pre-aggregate before the join (operators/lm_quality.py)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.where(F.col("doc_id") % 3 != 0)
    # model frozen per (session, sf_dir); shared with cx03's ensemble
    bigrams, unigrams, total = frozen_bigram_lm(spark, sf_dir, train)
    out = score_perplexity(docs, bigrams, unigrams, total)
    return out.select(
        "doc_id", "n_tokens", F.round("log_ppl", 6).alias("log_ppl"))


# ---------------------------------------------------- heavy hitters

_HH_K = 20
_HH_CAP = 1000

_HH_SQL = f"""
    WITH words AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
      FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM words)
    SELECT word, count(*) AS cnt,
           count(*) > (SELECT n FROM tot) / {_HH_CAP + 1} AS guaranteed
    FROM words GROUP BY word ORDER BY cnt DESC, word LIMIT {_HH_K}
"""


@query("dx36_heavy_hitters", sql=_HH_SQL)
def dx36_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass exact heavy hitters over the corpus token stream:
    per-partition top-capacity summaries (Arrow mapInPandas, no
    shuffle), candidate union broadcast back as a semi-join filter,
    exact recount of candidates only — shuffle is O(capacity x
    partitions), not O(vocabulary) (operators/heavy_hitters.py).
    ``guaranteed`` evaluates the operator's returned Misra-Gries
    threshold per row (cnt > N/(capacity+1) ⇒ the item could not have
    been evicted in pass 1, so its presence AND count are exact); the
    oracle hard-codes the same arithmetic, so a capacity that stops
    covering the vocabulary at a larger sf becomes a visible hash
    break instead of silent divergence."""
    docs = t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"))
    counted, thr = heavy_hitters(words, "word", k=_HH_K, capacity=_HH_CAP)
    return (
        counted.crossJoin(F.broadcast(words.agg(thr)))
        .select("word", "cnt", (F.col("cnt") > F.col("threshold")).alias("guaranteed"))
    )


# ----------------------------------------------- incremental dedup

_SH = tx.shingles_sql("text")
_MH_SQL = ",\n             ".join(
    f"{tx.minhash_sql('sh', j)} AS mh{j}" for j in range(tx.MINHASH_K))
_BANDS_SQL = ", ".join(
    f"'{b}|' || mh{2 * b} || '|' || mh{2 * b + 1}" for b in range(tx.LSH_BANDS))

_INC_SQL = f"""
    WITH hist AS (SELECT doc_id, {_SH} AS sh FROM documents WHERE doc_id % 4 <> 0),
    newb AS (SELECT doc_id, {_SH} AS sh FROM documents WHERE doc_id % 4 = 0),
    hsig AS (SELECT doc_id, sh, {_MH_SQL} FROM hist),
    nsig AS (SELECT doc_id, sh, {_MH_SQL} FROM newb),
    hband AS (SELECT doc_id AS dup_of, unnest([{_BANDS_SQL}]) AS band_key FROM hsig),
    nband AS (SELECT doc_id, unnest([{_BANDS_SQL}]) AS band_key FROM nsig),
    hist_cand AS (
      SELECT DISTINCT n.doc_id, h.dup_of, 'history' AS origin
      FROM nband n JOIN hband h ON h.band_key = n.band_key
    ),
    batch_cand AS (
      SELECT DISTINCT a.doc_id, b.doc_id AS dup_of, 'batch' AS origin
      FROM nband a JOIN nband b ON b.band_key = a.band_key AND a.doc_id > b.doc_id
    ),
    cand AS (SELECT * FROM hist_cand UNION ALL SELECT * FROM batch_cand),
    pairs AS (
      SELECT c.doc_id, c.dup_of, c.origin,
             len(list_intersect(na.sh, ob.sh))
               / CAST(len(na.sh) + len(ob.sh)
                      - len(list_intersect(na.sh, ob.sh)) AS DOUBLE) AS jac
      FROM cand c
      JOIN nsig na ON na.doc_id = c.doc_id
      JOIN (SELECT doc_id, sh FROM hist UNION ALL SELECT doc_id, sh FROM newb) ob
        ON ob.doc_id = c.dup_of
    )
    SELECT doc_id, dup_of, origin, round(score, 6) AS score FROM (
      SELECT doc_id, dup_of, origin, jac AS score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY jac DESC, dup_of ASC) AS _rk
      FROM pairs WHERE jac >= 0.5)
    WHERE _rk = 1
"""


_PACK_BUDGET = 100
_PACK_SHARDS = 8


def pack_walk_ctes(src: str, budget: int, shards: int, seed: str) -> str:
    """The greedy packing kernel's exact state walk as a composable
    recursive-CTE list (caller supplies ``WITH RECURSIVE``): state
    after each row = (pack_seq, used); the next row opens a new pack
    when it would overflow, and a pack closes immediately at >=
    budget. Anchor = rn 1 per shard. ``src`` must expose
    (_id BIGINT, _tok BIGINT). Shared by dx38's oracle and cx05's
    composition (r13); seeds mirror operators/packing.pack_documents
    ('{seed}|' shard hash, '{seed}o|' order key)."""
    return f"""pk_keyed AS (
      SELECT _id, _tok,
             CAST(('0x' || substr(md5('{seed}|' || CAST(_id AS VARCHAR)), 1, 13)) AS BIGINT)
               % {shards} AS shard,
             md5('{seed}o|' || CAST(_id AS VARCHAR)) AS okey
      FROM {src}
    ),
    pk_base AS (
      SELECT shard, _id, _tok, okey,
             row_number() OVER (PARTITION BY shard ORDER BY okey, _id) AS rn
      FROM pk_keyed
    ),
    pk_walk AS (
      SELECT shard, rn, _id,
             CAST(0 AS BIGINT) AS pack_seq,
             CAST(0 AS BIGINT) AS offset_in_pack,
             _tok AS pack_tokens,
             CASE WHEN _tok >= {budget} THEN CAST(1 AS BIGINT) ELSE 0 END AS next_seq,
             CASE WHEN _tok >= {budget} THEN CAST(0 AS BIGINT) ELSE _tok END AS next_used
      FROM pk_base WHERE rn = 1
      UNION ALL
      SELECT b.shard, b.rn, b._id,
             CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {budget}
                  THEN w.next_seq + 1 ELSE w.next_seq END AS pack_seq,
             CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {budget}
                  THEN 0 ELSE w.next_used END AS offset_in_pack,
             CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {budget}
                  THEN b._tok ELSE w.next_used + b._tok END AS pack_tokens,
             CASE WHEN (CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {budget}
                             THEN b._tok ELSE w.next_used + b._tok END) >= {budget}
                  THEN (CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {budget}
                             THEN w.next_seq + 1 ELSE w.next_seq END) + 1
                  ELSE (CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {budget}
                             THEN w.next_seq + 1 ELSE w.next_seq END) END AS next_seq,
             CASE WHEN (CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {budget}
                             THEN b._tok ELSE w.next_used + b._tok END) >= {budget}
                  THEN 0
                  ELSE (CASE WHEN w.next_used > 0 AND w.next_used + b._tok > {budget}
                             THEN b._tok ELSE w.next_used + b._tok END) END AS next_used
      FROM pk_walk w JOIN pk_base b ON b.shard = w.shard AND b.rn = w.rn + 1
    )"""


_PACK_SQL = f"""
    WITH RECURSIVE pack_src AS (
      SELECT CAST(doc_id AS BIGINT) AS _id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS _tok
      FROM documents
    ),
    {pack_walk_ctes('pack_src', _PACK_BUDGET, _PACK_SHARDS, 'pack')}
    SELECT _id AS doc_id_packed, shard, pack_seq,
           shard * {1 << 40} + pack_seq AS pack_id,
           offset_in_pack, pack_tokens
    FROM pk_walk
"""


@query("dx38_sequence_packing", sql=_PACK_SQL)
def dx38_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into fixed-token-budget packs: docs
    hash-bucket into independent shards (parallelism = shards = output
    files) and each shard packs sequentially in deterministic md5
    order via an Arrow applyInPandas kernel — every doc lands whole,
    packs never exceed budget except single oversized docs
    (operators/packing.py). The oracle replays the exact state walk
    as a recursive CTE."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("toks"),
    )
    from eth_options_data_pipeline_spark.operators.packing import pack_documents
    return pack_documents(docs, "doc_id", "toks",
                          budget=_PACK_BUDGET, n_shards=_PACK_SHARDS)


# ------------------------------------------- stream-join batch face

_SJ_SQL = """
    WITH c AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.click_id, p.purchase_id,
           CAST(floor(epoch(c.click_ts)) - floor(epoch(p.purchase_ts)) AS BIGINT)
             AS gap_secs
    FROM c JOIN p ON p.user_id = c.user_id
     AND p.purchase_ts >= c.click_ts - INTERVAL 1 HOUR
     AND p.purchase_ts <= c.click_ts
"""


@query("sx03_stream_join", sql=_SJ_SQL)
def sx03_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face of the stream-stream join (clicks paired with the
    purchases that preceded them by at most an hour, per user). Runs
    the SAME operator as the streaming path —
    streaming/stream.py::join_event_streams, whose watermark +
    time-bound condition is what lets Spark evict buffered state; on a
    batch input the watermark is a no-op and the join condition is the
    whole semantics. tests/test_streaming.py pins stream == batch on
    micro-batched input; this face pins batch == oracle."""
    from eth_options_data_pipeline_spark.streaming.stream import join_event_streams

    ev = t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"))
    joined = join_event_streams(
        clicks, purch.withColumnRenamed("p_user", "user_id"),
        key="user_id", left_ts="click_ts", right_ts="purchase_ts",
        lookback="1 hour")
    return joined.select(
        "click_id", "purchase_id",
        (F.col("click_ts").cast("long") - F.col("purchase_ts").cast("long"))
        .alias("gap_secs"),
    )


# ---------------------------------------------- leakage-safe split

_SPLIT_H = ("CAST(('0x' || substr(md5('split-v1|' || CAST("
            "coalesce(c.component, d.doc_id) AS VARCHAR)), 1, 15)) AS BIGINT)"
            " / 1152921504606846976.0")

_LSPLIT_SQL = f"""
    WITH RECURSIVE sh AS MATERIALIZED (SELECT doc_id, {_SH} AS sh FROM documents),
    sig AS MATERIALIZED (SELECT doc_id, sh, {_MH_SQL} FROM sh),
    bands AS MATERIALIZED (SELECT doc_id, unnest([{_BANDS_SQL}]) AS band_key FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT c.doc_a, c.doc_b FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE len(list_intersect(sa.sh, sb.sh))
              / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            >= 0.5
    ),
    bi AS MATERIALIZED (
      -- MATERIALIZED: keeps the recursive closure below from
      -- re-running the minhash+jaccard pipeline every iteration
      SELECT doc_a AS s, doc_b AS d FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(s, d) AS (
      SELECT s, d FROM bi
      UNION
      SELECT r.s, b.d FROM reach r JOIN bi b ON r.d = b.s
    ),
    comp AS (SELECT s AS doc_id, least(s, min(d)) AS component FROM reach GROUP BY s)
    SELECT d.doc_id,
           CASE WHEN {_SPLIT_H} < 0.8 THEN 'train'
                WHEN {_SPLIT_H} < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""


@query("dx40_leakage_safe_split", sql=_LSPLIT_SQL)
def dx40_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: near-dup clusters
    (MinHash-LSH pairs -> exact-Jaccard edges -> connected components)
    are split on their CLUSTER id, so no near-duplicate pair ever
    straddles a split boundary; singleton docs split on their own id
    (operators/splits.py composing operators/components.py)."""
    from eth_options_data_pipeline_spark.operators.splits import leakage_safe_split

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # cache consumed only during leakage_safe_split's eager component
    # loop — released before this face returns (r16, guide §5)
    sh = docs.select("doc_id", tx.word_shingles(F.col("text")).alias("sh")).cache()
    mh = tx.minhash_signature(F.col("sh"))
    sig = sh.select("doc_id", "sh", *[c.alias(f"mh{j}") for j, c in enumerate(mh)])
    bands = sig.select(
        "doc_id",
        F.explode(tx.band_keys(
            [F.col(f"mh{j}") for j in range(tx.MINHASH_K)])).alias("band_key"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    # the shared corpus x corpus verify join: SHJ build bounded by
    # the partitions-scale-with-bytes rule (r15), as in dx10/dx13
    pairs = (
        tx.verify_join(cand, sha, shb, docs)
        .where(tx.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    out = leakage_safe_split(
        docs.select("doc_id"), pairs, {"train": 0.8, "val": 0.1, "test": 0.1})
    # the component loop inside leakage_safe_split ran eagerly, so the
    # shingle cache is fully consumed — the returned plan reads only
    # the loop's final checkpoint and the docs scan
    sh.unpersist(blocking=False)
    return out.select("doc_id", "split")


# ------------------------------------------------------ CDC chunks

_CDC_M = (1 << 31) - 1
_CDC_BW = 282034563  # pow(257, 16, M)

# the per-char rolling-hash walk (operators/fingerprint.py
# chunk_boundaries), replayed as a recursive CTE: state after char i
# (1-based) = (h, start); boundary when (len >= 24 and h % 64 == 63)
# or len >= 256; h and start reset at boundaries. Python's % is
# non-negative — emulate with ((x % M) + M) % M.
_CDC_SQL = f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0
    ),
    walk AS (
      SELECT doc_id, 1 AS i,
             CAST(ord(substr(text, 1, 1)) % {_CDC_M} AS BIGINT) AS h,
             CAST(0 AS BIGINT) AS start,
             FALSE AS boundary
      FROM d
      UNION ALL
      SELECT w.doc_id, w.i + 1,
             CASE WHEN bdy THEN 0 ELSE hw END AS h,
             CASE WHEN bdy THEN w.i + 1 ELSE w.start END AS start,
             bdy AS boundary
      FROM walk w
      JOIN d ON d.doc_id = w.doc_id AND w.i < d.n,
      LATERAL (
        SELECT hw,
               ((w.i + 1 - w.start) >= 24 AND hw % 64 = 63)
                 OR (w.i + 1 - w.start) >= 256 AS bdy
        FROM (
          SELECT CASE WHEN w.i - w.start >= 16
                      THEN ((((w.h * 257 + CAST(ord(substr(d.text, w.i + 1, 1)) AS BIGINT)) % {_CDC_M})
                             - CAST(ord(substr(d.text, w.i + 1 - 16, 1)) AS BIGINT) * {_CDC_BW})
                            % {_CDC_M} + {_CDC_M}) % {_CDC_M}
                      ELSE (w.h * 257 + CAST(ord(substr(d.text, w.i + 1, 1)) AS BIGINT)) % {_CDC_M}
                 END AS hw
        )
      )
    ),
    lastb AS (
      SELECT d.doc_id, d.n,
             coalesce(max(CASE WHEN w.boundary THEN w.i END), 0) AS lb
      FROM d LEFT JOIN walk w ON w.doc_id = d.doc_id
      GROUP BY d.doc_id, d.n
    ),
    bounds AS (
      SELECT doc_id, i AS e FROM walk WHERE boundary
      UNION ALL
      SELECT doc_id, n AS e FROM lastb WHERE lb < n
    ),
    ch AS (
      SELECT doc_id, e,
             row_number() OVER (PARTITION BY doc_id ORDER BY e) - 1 AS chunk_idx,
             coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS cstart
      FROM bounds
    )
    SELECT ch.doc_id, chunk_idx, cstart AS chunk_start,
           e - cstart AS chunk_len,
           md5(substr(d.text, CAST(cstart + 1 AS INT), CAST(e - cstart AS INT)))
             AS chunk_digest
    FROM ch JOIN d ON d.doc_id = ch.doc_id
"""


@query("dx39_cdc_chunks", sql=_CDC_SQL)
def dx39_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: Rabin-Karp rolling hash declares
    boundaries that move WITH the content, so shifted/edited
    duplicates keep identical chunk digests (the LBFS/restic dedup
    shape). The per-doc recurrence is the engine's canonical Arrow
    mapInPandas kernel (operators/fingerprint.py); the oracle replays
    the exact integer state walk per character as a recursive CTE."""
    from eth_options_data_pipeline_spark.operators.fingerprint import cdc_chunks
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return cdc_chunks(docs.where(F.length("text") > 0))


@query("dx37_incremental_screen", sql=_INC_SQL)
def dx37_incremental_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening: a new ingest batch (doc_id % 4
    == 0) checked against the persisted LSH band index of accepted
    history — only the batch is sketched; history shingles are
    recomputed solely for candidate ids fetched by an id semi-join
    (operators/incremental_dedup.py). Flags carry the strongest
    witness (max exact Jaccard, ties to the smaller id) and whether
    it came from history or the batch itself."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.where(F.col("doc_id") % 4 != 0)
    newb = docs.where(F.col("doc_id") % 4 == 0)
    idx = build_band_index(hist)
    out = screen_batch(newb, hist, idx)
    return out.select("doc_id", "dup_of", "origin",
                      F.round("score", 6).alias("score"))
