"""Round-4 corpus wave 2: driver-checked faces for the remaining
high-traffic library operators — PII redaction, repetition stats,
benchmark contamination, deterministic sampling, hash splits, export
shuffle, int8 quantization, Z-order keys, and URL canonicalization
dedup. Synthetic columns (URLs, planted PII, sentence chunking) are
derived deterministically from doc_id/text so both engines see the
same input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import text as tx
from eth_options_data_pipeline_spark.operators.contamination import ngram_contamination
from eth_options_data_pipeline_spark.operators.export_shuffle import assign_shards
from eth_options_data_pipeline_spark.operators.pii import redact_pii
from eth_options_data_pipeline_spark.operators.quantization import quantize_int8
from eth_options_data_pipeline_spark.operators.repetition import repetition_stats
from eth_options_data_pipeline_spark.operators.sampling import cap_per_group, sample_strata
from eth_options_data_pipeline_spark.operators.splits import split_column
from eth_options_data_pipeline_spark.operators.urls import dedup_by_url
from eth_options_data_pipeline_spark.operators.zorder import interleave
from eth_options_data_pipeline_spark.queries.registry import query
from eth_options_data_pipeline_spark.sources import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- PII

# planted-PII construction, identical on both engines
_PII_TEXT_SQL = """
    text
    || CASE WHEN doc_id % 2 = 0
            THEN ' contact user' || doc_id || '@mail.example.org' ELSE '' END
    || CASE WHEN doc_id % 3 = 0
            THEN ' from 10.20.30.' || (doc_id % 250) ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' tel +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
"""

# RE2 twins of operators/pii.py's Java patterns. PHONEISH's lookarounds
# are vacuous on this planted corpus (phones always space-delimited),
# so the lookaround-free core matches the identical spans.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
_PHONE_RE = r"\+?\d[\d\s().-]{5,}\d"

_PII_SQL = f"""
    WITH d AS (SELECT doc_id, {_PII_TEXT_SQL} AS text2 FROM documents),
    r AS (
      SELECT doc_id, text2,
             regexp_replace(text2, '{_EMAIL_RE}', '<|EMAIL|>', 'g') AS t1
      FROM d
    ),
    r2 AS (
      SELECT doc_id, text2, t1,
             regexp_replace(t1, '{_IP_RE}', '<|IP|>', 'g') AS t2
      FROM r
    )
    SELECT doc_id,
           md5(regexp_replace(t2, '{_PHONE_RE}', '<|PHONE|>', 'g')) AS redacted_md5,
           len(regexp_extract_all(text2, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(t1, '{_IP_RE}')) AS n_ips,
           len(regexp_extract_all(t2, '{_PHONE_RE}')) AS n_phones
    FROM r2
"""


@query("dx19_pii_redaction", sql=_PII_SQL)
def dx19_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-tier PII scrub (Dolma/C4-style): mask emails, then IPs,
    then phone-shaped digit runs, with per-kind counts. Pure
    whole-stage-codegen regexp_replace — zero shuffle at any scale
    (operators/pii.py). PII is planted deterministically from doc_id
    so the oracle sees the same corpus."""
    docs = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    text2 = F.concat(
        F.col("text"),
        F.when(did % 2 == 0, F.concat(
            F.lit(" contact user"), did.cast("string"),
            F.lit("@mail.example.org"))).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.concat(
            F.lit(" from 10.20.30."), (did % 250).cast("string"))).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.concat(
            F.lit(" tel +1 (555) 010-"),
            F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
    )
    out = redact_pii(docs.select("doc_id", text2.alias("text")))
    return out.select(
        "doc_id", F.md5("text_redacted").alias("redacted_md5"),
        "n_emails", "n_ips", "n_phones",
    )


# ------------------------------------------------------- repetition

_CHUNK = 6  # words per synthetic sentence

_REP_WS = "regexp_split_to_array(trim(text), '\\s+')"
_REP_TEXT2 = (
    f"array_to_string(list_transform(range(0, CAST(ceil(len({_REP_WS}) / {_CHUNK}.0) AS INT)), "
    f"g -> array_to_string({_REP_WS}[g*{_CHUNK}+1 : g*{_CHUNK}+{_CHUNK}], ' ')), '. ')"
)

_REP_SQL = f"""
    WITH d AS (SELECT doc_id, {_REP_TEXT2} AS text2 FROM documents),
    s AS (
      SELECT doc_id, text2,
             list_filter(regexp_split_to_array(trim(text2), '\\.\\s+'),
                         x -> len(x) > 0) AS segs,
             regexp_split_to_array(lower(trim(text2)), '\\s+') AS ws
      FROM d
    ),
    m AS (
      SELECT doc_id, segs, ws,
             list_distinct(segs) AS dseg,
             len(segs) AS n_seg,
             len(list_distinct(segs)) AS n_dseg,
             coalesce(list_aggregate(list_transform(segs, x -> len(x)), 'sum'), 0) AS seg_chars,
             coalesce(list_aggregate(list_transform(list_distinct(segs), x -> len(x)), 'sum'), 0) AS dseg_chars,
             CASE WHEN len(ws) >= 2
                  THEN list_transform(range(0, len(ws) - 1), i -> ws[i+1] || ' ' || ws[i+2])
                  ELSE [] END AS g2,
             CASE WHEN len(ws) >= 3
                  THEN list_transform(range(0, len(ws) - 2), i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
                  ELSE [] END AS g3
      FROM s
    )
    SELECT doc_id,
           n_seg AS n_segments,
           round(CASE WHEN n_seg = 0 THEN 0.0
                      ELSE (n_seg - n_dseg) / CAST(n_seg AS DOUBLE) END, 6) AS dup_seg_frac,
           round(CASE WHEN seg_chars = 0 THEN 0.0
                      ELSE (seg_chars - dseg_chars) / CAST(seg_chars AS DOUBLE) END, 6) AS dup_seg_char_frac,
           CASE WHEN n_seg = 0 THEN 0
                ELSE list_max(list_transform(dseg,
                     d2 -> len(list_filter(segs, x -> x = d2)))) END AS max_seg_repeats,
           round(CASE WHEN len(g2) = 0 THEN 0.0
                      ELSE (len(g2) - len(list_distinct(g2))) / CAST(len(g2) AS DOUBLE) END, 6) AS dup_2gram_frac,
           round(CASE WHEN len(g3) = 0 THEN 0.0
                      ELSE (len(g3) - len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE) END, 6) AS dup_3gram_frac
    FROM m
"""


@query("dx20_repetition_stats", sql=_REP_SQL)
def dx20_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup segment fraction, char-
    weighted fraction, max repeats, dup 2/3-gram fractions), computed
    per-row over arrays — no explode, no shuffle
    (operators/repetition.py). Docs are re-chunked into deterministic
    6-word sentences (the synthetic corpus has no punctuation)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    sent = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(ws) / float(_CHUNK)).cast("int") - 1),
        lambda g: F.array_join(F.slice(ws, g * _CHUNK + 1, _CHUNK), " "),
    )
    chunked = docs.select("doc_id", F.array_join(sent, ". ").alias("text"))
    out = repetition_stats(chunked, seg_pattern=r"\.\s+")
    return out.select(
        "doc_id", "n_segments",
        F.round("dup_seg_frac", 6).alias("dup_seg_frac"),
        F.round("dup_seg_char_frac", 6).alias("dup_seg_char_frac"),
        "max_seg_repeats",
        F.round("dup_2gram_frac", 6).alias("dup_2gram_frac"),
        F.round("dup_3gram_frac", 6).alias("dup_3gram_frac"),
    )


# ----------------------------------------------------- contamination

_N_GRAM = 5
_SH8 = tx.shingles_sql("text", n=_N_GRAM)

_CONTAM_SQL = f"""
    WITH train AS (SELECT doc_id, {_SH8} AS sh FROM documents WHERE doc_id % 13 <> 0),
    bench AS (SELECT doc_id AS bench_id, {_SH8} AS sh FROM documents WHERE doc_id % 13 = 0),
    dg AS (SELECT doc_id, unnest(sh) AS gram FROM train),
    bg AS (SELECT DISTINCT bench_id, unnest(sh) AS gram FROM bench),
    hits AS (SELECT dg.doc_id, bg.bench_id, dg.gram FROM dg JOIN bg ON bg.gram = dg.gram),
    per_pair AS (
      SELECT doc_id, bench_id, count(*) AS pair_hits
      FROM hits GROUP BY doc_id, bench_id
    ),
    per_doc AS (
      SELECT doc_id, max(pair_hits) AS worst_bench_hits
      FROM per_pair WHERE pair_hits >= 2 GROUP BY doc_id
    ),
    contam AS (
      SELECT doc_id, count(*) AS n_contaminated
      FROM (SELECT DISTINCT doc_id, gram FROM hits) GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, len(sh) AS n_ngrams FROM train)
    SELECT p.doc_id, t.n_ngrams, c.n_contaminated,
           round(c.n_contaminated / CAST(t.n_ngrams AS DOUBLE), 6) AS contamination_rate,
           p.worst_bench_hits
    FROM per_doc p
    JOIN contam c ON c.doc_id = p.doc_id
    JOIN totals t ON t.doc_id = p.doc_id
"""


@query("dx21_contamination", sql=_CONTAM_SQL)
def dx21_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination screen: 5-word-gram collisions between
    the training slice and a held-out benchmark slice (doc_id % 13).
    Benchmark grams broadcast; only grams shuffle, never text
    (operators/contamination.py). worst_bench_id is dropped from the
    face (max_by ties are unordered); the deterministic max hit count
    stays."""
    docs = t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 13 != 0)
    bench = docs.where(F.col("doc_id") % 13 == 0).select(
        F.col("doc_id").alias("bench_id"), "text")
    out = ngram_contamination(train, bench, n=_N_GRAM, min_hits=2)
    return out.select(
        "doc_id", "n_ngrams", "n_contaminated",
        F.round("contamination_rate", 6).alias("contamination_rate"),
        "worst_bench_hits",
    )


# --------------------------------------------------------- sampling

# md5 -> [0,1): 13 hex chars / 2^52 (operators/sampling.py)
def _h01_sql(seed: str, key: str) -> str:
    return (f"CAST(('0x' || substr(md5('{seed}|' || {key}), 1, 13)) AS BIGINT)"
            f" / 4503599627370496.0")


_SAMPLE_SQL = f"""
    WITH kept AS (
      SELECT doc_id, lang FROM documents
      WHERE {_h01_sql('strata', 'CAST(doc_id AS VARCHAR)')}
            < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25 ELSE 1.0 END
    )
    SELECT doc_id, lang FROM kept
    QUALIFY row_number() OVER (
      PARTITION BY lang
      ORDER BY {_h01_sql('cap', 'CAST(doc_id AS VARCHAR)')}, doc_id) <= 30
"""


@query("dx22_sampling", sql=_SAMPLE_SQL)
def dx22_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus sampling: hash-threshold stratified
    downsampling (en to 50%, zh to 25%) then a per-language cap of 30
    docs chosen by seeded hash order — both pure functions of
    (seed, id), so re-runs and engines agree exactly
    (operators/sampling.py)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    strat = sample_strata(docs, "lang", "doc_id",
                          {"en": 0.5, "zh": 0.25}, seed="strata")
    return cap_per_group(strat, ["lang"], "doc_id", cap=30, seed="cap")


# ----------------------------------------------------------- splits

# splits._hash01 uses 15 hex chars / 16^15
_SPLIT_H = ("CAST(('0x' || substr(md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
            " / 1152921504606846976.0")

_SPLIT_SQL = f"""
    SELECT doc_id,
           CASE WHEN {_SPLIT_H} < 0.8 THEN 'train'
                WHEN {_SPLIT_H} < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
"""


@query("dx23_splits", sql=_SPLIT_SQL)
def dx23_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment by cumulative fraction bands over a
    seeded md5 hash of the doc id — deterministic, engine-independent,
    and stable under corpus growth (operators/splits.py; the
    leakage-safe cluster-aware variant composes this with dx13's
    connected components)."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    return docs.withColumn(
        "split",
        split_column(F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}),
    )


# ---------------------------------------------------- export shuffle

_SHARDS = 8
_EXP_KEY = "md5('exp1|' || CAST(doc_id AS VARCHAR))"

_EXPORT_SQL = f"""
    SELECT doc_id,
           CAST(CAST(('0x' || substr({_EXP_KEY}, 1, 8)) AS BIGINT) % {_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST(('0x' || substr({_EXP_KEY}, 1, 8)) AS BIGINT) % {_SHARDS}
             ORDER BY {_EXP_KEY}) AS INT) AS pos
    FROM documents
"""


@query("dx24_export_shuffle", sql=_EXPORT_SQL)
def dx24_export_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic export shuffle: md5 permutation key -> shard id +
    within-shard position. One exchange on the shard id; the write-out
    order IS the shuffle order (operators/export_shuffle.py)."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    sharded = assign_shards(docs, "doc_id", "exp1", _SHARDS)
    w = Window.partitionBy("shard").orderBy("_shuffle_key")
    return sharded.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos"))


# ------------------------------------------------------ quantization

_QUANT_SQL = """
    WITH q AS (
      SELECT vec_id,
             -- DOUBLE from the start: round(FLOAT, 9) is a no-op in
             -- DuckDB and would leave float->double widening artifacts
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale,
             embedding::DOUBLE[] AS e
      FROM embeddings
    )
    SELECT vec_id, round(scale, 9) AS emb_scale,
           CASE WHEN scale > 0
                THEN array_to_string(list_transform(e,
                       x -> CAST(round(x / scale) AS INT)), ',')
                ELSE array_to_string(list_transform(e, x -> 0), ',') END AS q_csv
    FROM q
"""


@query("dx25_quantize_int8", sql=_QUANT_SQL)
def dx25_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (x ~= q * scale, q in
    [-127,127]): 4x smaller ANN shuffles with bounded error; per-row
    array math, no shuffle (operators/quantization.py)."""
    emb = t(spark, sf_dir, "embeddings")
    out = quantize_int8(emb, "embedding")
    return out.select(
        "vec_id",
        F.round("emb_scale", 9).alias("emb_scale"),
        F.array_join(F.transform(F.col("emb_q"),
                                 lambda x: x.cast("string")), ",").alias("q_csv"),
    )


# ----------------------------------------------------------- zorder

_ZBITS = 8
_ZMULT = 2654435761  # odd -> bijective mod 2^31


# k2's domain is fixed ([0, 2^31) by construction), so its cell width
# is static; o_orderkey's domain scales with SF, so its width comes
# from a one-row max() bounds pass broadcast back — zero global sorts
# either way (the r07-era face rank-normalized with two partition-less
# ntile windows instead; de-scaffolded per VERDICT r08 item 5).
_K2_WIDTH = 1 << (31 - _ZBITS)


def _zorder_sql() -> str:
    from eth_options_data_pipeline_spark.operators.zorder import interleave_sql

    z = interleave_sql(["r0", "r1"], _ZBITS)
    cells = 1 << _ZBITS
    return f"""
    WITH b AS (
      SELECT CAST(max(o_orderkey) AS BIGINT) // {cells} + 1 AS w0 FROM orders
    ),
    k AS (
      SELECT o_orderkey, (o_orderkey * {_ZMULT}) % 2147483648 AS k2
      FROM orders
    ),
    r AS (
      SELECT o_orderkey,
             least(greatest(o_orderkey // w0, 0), {cells - 1}) AS r0,
             least(greatest(k2 // {_K2_WIDTH}, 0), {cells - 1}) AS r1
      FROM k, b
    )
    SELECT o_orderkey, CAST({z} AS BIGINT) AS zkey FROM r
    """


@query("dx26_zorder_key", sql=_zorder_sql())
def dx26_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over grid-scaled columns — the
    data-layout operator behind multi-column data skipping (Delta
    OPTIMIZE ZORDER-style):
    operators/zorder.grid_cell (true integer div, clamped) on each
    dimension, then the static-bit-chain interleave(). o_orderkey's
    cell width is a broadcast one-row max() scalar; k2's is static.
    No global window anywhere in the plan (pinned by test_plans)."""
    from eth_options_data_pipeline_spark.operators.zorder import grid_cell

    cells = 1 << _ZBITS
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        ((F.col("o_orderkey") * _ZMULT) % (1 << 31)).alias("k2"),
    )
    bounds = orders.agg(
        (F.call_function("div", F.max("o_orderkey").cast("long"),
                         F.lit(cells)) + 1).alias("w0"))
    gridded = orders.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey",
        grid_cell(F.col("o_orderkey"), F.col("w0"), cells).alias("r0"),
        grid_cell(F.col("k2"), _K2_WIDTH, cells).alias("r1"),
    )
    return gridded.select(
        "o_orderkey",
        interleave([F.col("r0"), F.col("r1")], bits=_ZBITS).alias("zkey"),
    )


# -------------------------------------------------------- URL dedup

_URL_SQL = f"""
    WITH u AS (
      SELECT doc_id, n_chars AS quality,
             CASE WHEN doc_id % 11 = 0
                  THEN 'www.example.com/plain/' || doc_id
                  ELSE 'HTTPS://Shop.Example.COM:443/items/' || (doc_id % 40)
                       || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
                       || '?utm_source=feed&b=' || (doc_id % 5)
                       || '&a=1&gclid=xyz#frag' END AS url
      FROM documents
    ),
    good AS (
      SELECT doc_id, quality, url,
             'https://shop.example.com/items/' || (doc_id % 40)
               || '?a=1&b=' || (doc_id % 5) AS canon
      FROM u WHERE doc_id % 11 <> 0
    ),
    best AS (
      SELECT doc_id, url, quality FROM good
      QUALIFY row_number() OVER (PARTITION BY canon
                                 ORDER BY quality DESC, doc_id ASC) = 1
    )
    SELECT doc_id, url, quality FROM best
    UNION ALL
    SELECT doc_id, url, quality FROM u WHERE doc_id % 11 = 0
"""


@query("dx27_url_dedup", sql=_URL_SQL)
def dx27_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup: scheme/host lowercasing, default-
    port & fragment stripping, tracking-param removal, param sorting,
    trailing-slash normalization — then one mergeable max-struct agg
    picks the best-quality row per canonical URL; scheme-less rows
    pass through (operators/urls.py). The oracle derives the expected
    canonical form from the planted construction."""
    docs = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.when(
        did % 11 == 0,
        F.concat(F.lit("www.example.com/plain/"), did.cast("string")),
    ).otherwise(F.concat(
        F.lit("HTTPS://Shop.Example.COM:443/items/"), (did % 40).cast("string"),
        F.when(did % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&b="), (did % 5).cast("string"),
        F.lit("&a=1&gclid=xyz#frag"),
    ))
    rows = docs.select("doc_id", url.alias("url"),
                       F.col("n_chars").alias("quality"))
    return dedup_by_url(rows, "url", "quality", "doc_id")
