"""Round-4 corpus wave: driver-checked faces for the operator-library
components that previously had only local tests (r3-verdict items #6
and #8) — window funnel, cohort retention, token-budget selection,
DSIR importance resampling, partition-scoped MERGE, and CCNet
boilerplate removal. Each face is a thin wrapper over the real
operator module; the DuckDB oracle re-derives the same result
relationally.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.boilerplate import strip_boilerplate
from eth_options_data_pipeline_spark.operators.dsir import dsir_select
from eth_options_data_pipeline_spark.operators.funnel import retention, window_funnel
from eth_options_data_pipeline_spark.operators.merge_upsert import merge_upsert
from eth_options_data_pipeline_spark.operators.selection import select_to_budget
from eth_options_data_pipeline_spark.queries.registry import query
from eth_options_data_pipeline_spark.sources import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_FUNNEL_W = 86400  # 1-day conversion window

# The operator's per-user DP (operators/funnel.py) computes depth =
# max k with events of steps 1..k in (ts, step) sorted order and
# t_k - t_1 <= window. Because the DP keeps the LATEST viable chain
# start per depth, that is exactly the existential "some ordered
# chain fits the window", which SQL states with per-step self-joins.
_FUNNEL_SQL = f"""
    WITH ev AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    u AS (SELECT DISTINCT user_id FROM ev),
    d1 AS (SELECT DISTINCT user_id FROM ev WHERE event_type = 'view'),
    d2 AS (
      SELECT DISTINCT v.user_id
      FROM ev v JOIN ev c ON c.user_id = v.user_id
      WHERE v.event_type = 'view' AND c.event_type = 'click'
        AND c.t >= v.t AND c.t - v.t <= {_FUNNEL_W}
    ),
    d3 AS (
      SELECT DISTINCT v.user_id
      FROM ev v
      JOIN ev c ON c.user_id = v.user_id
      JOIN ev p ON p.user_id = v.user_id
      WHERE v.event_type = 'view' AND c.event_type = 'click'
        AND p.event_type = 'purchase'
        AND c.t >= v.t AND p.t >= c.t AND p.t - v.t <= {_FUNNEL_W}
    )
    SELECT u.user_id,
           CASE WHEN u.user_id IN (SELECT user_id FROM d3) THEN 3
                WHEN u.user_id IN (SELECT user_id FROM d2) THEN 2
                WHEN u.user_id IN (SELECT user_id FROM d1) THEN 1
                ELSE 0 END AS depth
    FROM u
"""


@query("dx14_window_funnel", sql=_FUNNEL_SQL)
def dx14_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-style windowFunnel over the events stream: per user,
    the deepest view -> click -> purchase chain completed within one
    day. The engine runs the per-user DP inside one JVM aggregate
    expression (operators/funnel.py) — no per-user Python, one shuffle
    of (user, matching events); the oracle is the equivalent
    existential self-join, viable only at oracle scale."""
    ev = t(spark, sf_dir, "events")
    return window_funnel(ev, ["view", "click", "purchase"], _FUNNEL_W)


_RETENTION_SQL = """
    WITH anchors AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    rets AS (
      SELECT user_id, CAST(ts AS DATE) AS ret_date
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT a.user_id, a.cohort_date, r.ret_date
      FROM anchors a LEFT JOIN rets r ON r.user_id = a.user_id
    ),
    pu AS (
      SELECT user_id, cohort_date,
             max(CASE WHEN ret_date >= cohort_date
                       AND floor(date_diff('day', cohort_date, ret_date) / 7) = 0
                      THEN 1 ELSE 0 END) AS p0,
             max(CASE WHEN ret_date >= cohort_date
                       AND floor(date_diff('day', cohort_date, ret_date) / 7) = 1
                      THEN 1 ELSE 0 END) AS p1,
             max(CASE WHEN ret_date >= cohort_date
                       AND floor(date_diff('day', cohort_date, ret_date) / 7) = 2
                      THEN 1 ELSE 0 END) AS p2,
             max(CASE WHEN ret_date >= cohort_date
                       AND floor(date_diff('day', cohort_date, ret_date) / 7) = 3
                      THEN 1 ELSE 0 END) AS p3
      FROM j GROUP BY user_id, cohort_date
    )
    SELECT strftime(cohort_date, '%Y-%m-%d') AS cohort_day, count(*) AS cohort_size,
           CAST(sum(p0) AS BIGINT) AS retained_p0,
           CAST(sum(p1) AS BIGINT) AS retained_p1,
           CAST(sum(p2) AS BIGINT) AS retained_p2,
           CAST(sum(p3) AS BIGINT) AS retained_p3
    FROM pu GROUP BY cohort_date
"""


@query("dx15_retention", sql=_RETENTION_SQL)
def dx15_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (anchor=signup, return=purchase, 4 weekly
    buckets): pure conditional aggregation, fully partial-aggregatable
    (operators/funnel.py::retention)."""
    ev = t(spark, sf_dir, "events")
    out = retention(ev, "signup", "purchase", period_days=7, n_periods=4)
    return out.select(
        F.date_format("cohort_date", "yyyy-MM-dd").alias("cohort_day"),
        "cohort_size", "retained_p0", "retained_p1", "retained_p2", "retained_p3",
    )


_BUDGET = 6000

_SELECT_SQL = f"""
    WITH d AS (
      SELECT doc_id, n_chars AS quality,
             len(regexp_split_to_array(trim(text), '\\s+')) AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, quality,
             CAST(sum(toks) OVER (ORDER BY quality DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
      FROM d
    )
    SELECT doc_id, quality, cum_tokens FROM c WHERE cum_tokens <= {_BUDGET}
"""


@query("dx16_select_to_budget", sql=_SELECT_SQL)
def dx16_select_to_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection ("best N tokens"): keep docs in
    (quality desc, id) order while the running token total stays within
    budget. The engine computes the running sum as a distributed
    prefix sum (range repartition + per-partition window + broadcast
    offsets, operators/selection.py) — NOT the oracle's single global
    window, which would be one task at 100 TB."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("quality"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("toks"),
    )
    out = select_to_budget(docs, "quality", "toks", _BUDGET)
    return out.select("doc_id", "quality", "cum_tokens")


_DSIR_BUCKETS = 256
_DSIR_N = 50

# md5-hex-prefix -> unsigned 32-bit int, the repo's cross-engine hash
# convention (operators/text.py)
_H32 = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"

_DSIR_SQL = f"""
    WITH raw AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
    tgt AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
    rb AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                    i -> {_H32.format(x="ws[i] || chr(31) || ws[i+1]")} % {_DSIR_BUCKETS})) AS bucket
      FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM raw)
    ),
    tb AS (
      SELECT unnest(list_transform(range(1, len(ws)),
                    i -> {_H32.format(x="ws[i] || chr(31) || ws[i+1]")} % {_DSIR_BUCKETS})) AS bucket
      FROM (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM tgt)
    ),
    rdist AS (SELECT bucket, count(*) AS cr FROM rb GROUP BY bucket),
    tdist AS (SELECT bucket, count(*) AS ct FROM tb GROUP BY bucket),
    ratios AS (
      SELECT coalesce(td.bucket, rd.bucket) AS bucket,
             ln((coalesce(ct, 0) + 1) /
                ((SELECT coalesce(sum(ct), 0) FROM tdist) + {_DSIR_BUCKETS}))
             - ln((coalesce(cr, 0) + 1) /
                ((SELECT coalesce(sum(cr), 0) FROM rdist) + {_DSIR_BUCKETS})) AS logratio
      FROM tdist td FULL JOIN rdist rd ON td.bucket = rd.bucket
    ),
    db AS (SELECT doc_id, bucket, count(*) AS n FROM rb GROUP BY doc_id, bucket),
    w AS (
      SELECT r.doc_id, coalesce(s.log_weight, 0.0) AS log_weight
      FROM raw r LEFT JOIN (
        SELECT db.doc_id, sum(db.n * ratios.logratio) AS log_weight
        FROM db JOIN ratios ON db.bucket = ratios.bucket
        GROUP BY db.doc_id
      ) s ON s.doc_id = r.doc_id
    ),
    keyed AS (
      SELECT doc_id, log_weight,
             log_weight - ln(-ln(
               ({_H32.format(x="'0|' || CAST(doc_id AS VARCHAR)")} + 0.5) / 4294967296.0
             )) AS key
      FROM w
    )
    SELECT doc_id, round(log_weight, 6) AS log_weight, round(key, 6) AS key
    FROM keyed ORDER BY key DESC LIMIT {_DSIR_N}
"""


@query("dx17_dsir_select", sql=_DSIR_SQL)
def dx17_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): weight raw docs by
    the hashed-bigram log-likelihood ratio toward a target slice
    (doc_id % 7 == 0) and draw the top 50 via deterministic
    md5-Gumbel keys (operators/dsir.py). The log-ratio table is
    buckets-bounded and broadcast; no shuffle carries text. Weights
    rounded to 6 decimals on both engines (sum-order noise ~1e-15)."""
    docs = t(spark, sf_dir, "documents")
    target = docs.where(F.col("doc_id") % 7 == 0)
    raw = docs.where(F.col("doc_id") % 7 != 0)
    out = dsir_select(raw, target, _DSIR_N, buckets=_DSIR_BUCKETS, seed=0)
    return out.select(
        "doc_id",
        F.round("log_weight", 6).alias("log_weight"),
        F.round("key", 6).alias("key"),
    )


_MERGE_SQL = """
    WITH base AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 3 <> 0
    ),
    upd AS (
      SELECT o_orderkey, round(o_totalprice * 2, 2) AS o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    merged AS (
      SELECT * FROM base
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd
    )
    SELECT o_orderpriority, count(*) AS cnt,
           round(sum(o_totalprice), 2) AS total
    FROM merged GROUP BY o_orderpriority
"""


@query("qx46_merge_upsert", sql=_MERGE_SQL)
def qx46_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped MERGE (upsert) end-to-end: write a base orders
    table partitioned by priority, upsert a doubled-price slice
    (updates + fresh inserts), read back and aggregate. The operator
    rewrites ONLY partitions present in the updates, via dynamic
    partition overwrite + broadcast anti-join on keys
    (operators/merge_upsert.py); the oracle states the merge
    relationally.

    NOTE on cost accounting: unlike every other face, the work here
    (two parquet writes + the merge) happens eagerly at DataFrame-
    construction time — the sink IS the operator under test — so a
    timed action on the returned frame only measures the read-back
    aggregate. The scratch tree lives at ONE fixed per-session path
    (keyed by applicationId) and is rewritten in place on repeat
    invocations, so bench's 3 runs and the verifier reuse it instead
    of leaking a full orders copy per call."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority")
    base = orders.where(F.col("o_orderkey") % 3 != 0)
    path = os.path.join(
        tempfile.gettempdir(),
        f"merge_face_{spark.sparkContext.applicationId}",
        os.path.basename(os.path.normpath(sf_dir)))
    # the base table is written once per session; repeat invocations
    # re-apply the merge onto the already-merged table, which is the
    # operator's own idempotency claim (replaced rows replace to the
    # same values, inserts anti-join to nothing) — chaos-tested in
    # test_merge_upsert_rerun_after_partial_failure
    if not os.path.isdir(path):
        base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    updates = orders.where(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") * 2, 2))
    merge_upsert(spark, path, updates, ("o_orderkey",), "o_orderpriority")
    back = spark.read.schema(orders.schema).parquet(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


_MIN_DF = 3

_BOILER_SQL = f"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents
    ),
    dl AS (
      SELECT doc_id,
             list_transform(range(0, CAST(ceil(len(ws) / 8.0) AS INT)),
                            g -> array_to_string(ws[g*8+1 : g*8+8], ' ')) AS lines
      FROM w
    ),
    lines AS (
      SELECT doc_id, unnest(lines) AS line,
             generate_subscripts(lines, 1) AS pos, len(lines) AS n_lines
      FROM dl
    ),
    normed AS (
      SELECT doc_id, pos, line, n_lines,
             md5(trim(regexp_replace(regexp_replace(lower(line), '\\d+', '', 'g'),
                                     '\\s+', ' ', 'g'))) AS dg
      FROM lines
    ),
    boiler AS (
      SELECT dg FROM (SELECT DISTINCT doc_id, dg FROM normed)
      GROUP BY dg HAVING count(*) >= {_MIN_DF}
    ),
    kept AS (
      SELECT doc_id, pos, line FROM normed
      WHERE dg NOT IN (SELECT dg FROM boiler)
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_stripped,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           md5(coalesce(r.text_stripped, '')) AS stripped_md5,
           CAST(max(d.n_lines) - coalesce(max(r.n_kept), 0) AS BIGINT)
             AS n_lines_removed
    FROM (SELECT DISTINCT doc_id, n_lines FROM lines) d
    LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    GROUP BY d.doc_id, r.text_stripped
"""


@query("dx18_boilerplate", sql=_BOILER_SQL)
def dx18_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet line-level boilerplate removal over the documents table
    (re-chunked into deterministic 8-word lines, since the synthetic
    docs carry no newlines): normalized-line digests, document
    frequency >= 3 -> drop from every doc, rebuild preserving order
    (operators/boilerplate.py). Only 16-byte digests shuffle; the
    frequent set broadcasts."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    lines8 = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(ws) / 8.0).cast("int") - 1),
        lambda g: F.array_join(F.slice(ws, g * 8 + 1, 8), " "),
    )
    chunked = docs.select(
        "doc_id", F.array_join(lines8, "\n").alias("text"))
    out = strip_boilerplate(chunked, min_df=_MIN_DF)
    return out.select(
        "doc_id",
        F.md5("text_stripped").alias("stripped_md5"),
        F.col("n_lines_removed").cast("long").alias("n_lines_removed"),
    )
