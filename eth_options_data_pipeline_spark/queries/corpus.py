"""Core operator corpus — one oracle-checked query per SURVEY.md §2 row.

Reference-semantics citations are in each docstring (file:line into
/root/reference). Conventions for oracle parity:
  * temporal outputs are formatted strings (engine-independent);
  * multi-row float aggregates (sum/avg) are rounded identically on
    both sides — inputs are 2-decimal moneys, so round(...,2) has huge
    margin against last-bit accumulation-order noise;
  * row-level float arithmetic is left raw (same operand bits -> same
    IEEE result on both engines);
  * every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import expiry as expiry_ops
from eth_options_data_pipeline_spark.operators.dedup import duplicate_groups, keep_last
from eth_options_data_pipeline_spark.operators.filters import expiry_membership, null_guard, strike_band
from eth_options_data_pipeline_spark.operators.snapshot import tail_n
from eth_options_data_pipeline_spark.queries.registry import query
from eth_options_data_pipeline_spark.sources import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Aggregations (A1-A5) and grouped scans
# ---------------------------------------------------------------------------

@query(
    "q01_pricing_summary",
    sql="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                        AS sum_qty,
           round(sum(l_extendedprice), 2)                   AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
           round(avg(l_quantity), 2)                        AS avg_qty,
           count(*)                                         AS cnt,
           CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
           CAST(sum(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS n_taxed,
           CAST(sum(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_bulk
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped scan aggregate (A3 min/max family, A4 counts; the shape
    of reference telemetry aggregates main.py:225-226,241-243). Partial
    (map-side) aggregation + single shuffle on the group keys.

    Also carries q15's folded leg (r13 consolidation): the A4
    success/fail/filtered conditional counters (main.py:153-155,
    225-226) as in-plan sum(when) columns in the SAME grouped
    aggregate — one extra expression per counter, zero extra shuffles;
    the returned-flag counter became the tax-band counter here since
    q01 already groups BY l_returnflag (the fold must count something
    the group key does not determine — r13 review)
    (the side-channel accumulator form stays covered by
    tests/test_observe.py's df.observe path)."""
    li = t(spark, sf_dir, "lineitem")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    return (
        li.where(F.col("l_shipdate") <= F.lit(dt.datetime(2000, 6, 1)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.count(F.lit(1)).alias("cnt"),
            cnt(F.col("l_discount") > 0.05).alias("n_discounted"),
            cnt(F.col("l_tax") > 0.04).alias("n_taxed"),
            cnt(F.col("l_quantity") >= 25).alias("n_bulk"),
        )
    )


# q02_band_filter_project and q03_falsy_guard retired r11 (VERDICT r10
# item 7, capacity consolidation): q21_options_pipeline's composition
# exercises the identical strike_band (P3) and null_guard (P2)
# operators inside its oracle-checked dataflow, and the filter/
# projection pushdown evidence moved to an operator-level plan test
# (tests/test_plans.py::test_filter_and_projection_pushdown).


@query(
    "q04_left_join_coalesce",
    sql="""
    WITH bldg_orders AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
      FROM orders o
      WHERE o.o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
    )
    SELECT c.c_custkey, c.c_name,
           count(b.o_orderkey)                        AS n_orders,
           round(coalesce(sum(b.o_totalprice), 0), 2) AS total_spend
    FROM customer c LEFT JOIN bldg_orders b ON c.c_custkey = b.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q04_left_join_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 left-outer probe with miss->0 defaults (main.py:290-308) +
    F13 null-to-zero coalesce, composed with the former q05's P5
    membership semi-join (folded r15, VERDICT r14 item 5 — same join
    operator family, snapshot.py:51 / filters.py:36): the outer
    join's RIGHT side IS the broadcast LEFT SEMI join's output
    (orders of BUILDING-segment customers, the scale path for
    `expiry in targets`, main.py:193-194, when the key set is
    computed in-plan rather than collected). Every non-BUILDING
    customer therefore probes to ZERO rows, so the J2 miss->0
    defaults are exercised on most of the output — if either join
    leg broke, every row's n_orders/total_spend would move the
    driver hash."""
    c = t(spark, sf_dir, "customer")
    bld = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("o_custkey"))
    o = t(spark, sf_dir, "orders").join(
        F.broadcast(bld), on="o_custkey", how="left_semi")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


# q05_semi_join retired r15 (VERDICT r14 item 5, capacity
# consolidation): its P5 broadcast LEFT SEMI membership join moved
# INTO q04_left_join_coalesce as the outer join's right-side input —
# the composition q04 always modeled (probe a filtered fact stream,
# default the misses to 0) now materializes the filter as the actual
# semi-join leg, and the plan pin moved with it
# (tests/test_plans.py::test_semi_join_broadcast).


@query(
    "q06_keep_last",
    sql="""
    WITH tail300 AS (
      SELECT * FROM events ORDER BY ts DESC, event_id DESC LIMIT 300
    )
    SELECT user_id, event_id AS last_event_id, event_type AS last_type, value AS last_value,
           coalesce(try_cast(json_extract_string(props, '$.k') AS DOUBLE), -1.0) AS last_k_val,
           (try_cast(event_type AS DOUBLE) IS NULL) AS cast_failed
    FROM tail300
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def q06_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A5/J1: keep-LAST-per-key dedup. pandas drop_duplicates
    keep='last' (main.py:233) and the J1 dict-overwrite (main.py:281-286)
    both need an explicit order column in Spark (SURVEY §7.4 trap 1);
    here the total order is (ts, event_id).

    Also carries q13's folded legs (r12 consolidation): P1
    semi-structured field extraction (main.py:159-163) as
    get_json_object on the kept row's props, F5 cast-with-default
    (sentinel -1.0 — no nullable doubles in oracle output), and F6
    coercive cast err->NULL (pd.to_numeric errors='coerce',
    main.py:276-277) as the cast_failed flag.

    And q10's folded leg (r13 consolidation): O2 tail-N state
    bounding. The reference reads the LAST 300 history rows and THEN
    builds its last-per-key dict (df.tail(300) at main.py:260 feeding
    the dict-overwrite at :281-286) — this face now runs that exact
    composition: tail_n(300) under the (ts, event_id) total order
    (TakeOrderedAndProject — no global sort materialization), then
    keep-last per user within the bounded window."""
    ev = t(spark, sf_dir, "events")
    bounded = tail_n(ev, 300, order_cols=("ts", "event_id")).withColumn(
        "_ord", F.struct(F.col("ts"), F.col("event_id"))
    )
    out = keep_last(bounded, keys=["user_id"], order_col="_ord")
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        F.coalesce(
            F.get_json_object("props", "$.k").try_cast("double"),
            F.lit(-1.0),
        ).alias("last_k_val"),
        F.col("event_type").try_cast("double").isNull().alias("cast_failed"),
    )


@query(
    "q07_lag_delta",
    sql="""
    SELECT event_id, user_id, value,
           value - lag(value, 1, 0.0) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def q07_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/J3: per-key previous-value delta — the Open/OI_Change
    derivation (main.py:300-304) in its log-replay form. Raw double
    subtraction on identical operands is bit-exact across engines."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id", "value",
        (F.col("value") - F.lag("value", 1, 0.0).over(w)).alias("delta"),
    )


# ---------------------------------------------------------------------------
# Ladders / sorts / limits (W1, W2, O1-O3)
# ---------------------------------------------------------------------------

@query(
    "q08_expiry_ladder",
    sql="""
    SELECT ladder_pos, strftime(ladder_date, '%Y-%m-%d') AS ladder_day
    FROM (
      SELECT d AS ladder_date, row_number() OVER (ORDER BY d) AS ladder_pos
      FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
            WHERE CAST(o_orderdate AS DATE) >= DATE '2000-06-01')
    ) WHERE ladder_pos <= 3
    """,
)
def q08_expiry_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/O3: the E0/E1/E2 expiry ladder (main.py:43-80) — distinct
    future dates ascending, top 3 (TakeOrderedAndProject)."""
    o = t(spark, sf_dir, "orders").select(F.col("o_orderdate").cast("date").alias("d"))
    ladder = expiry_ops.expiry_ladder_topk(o, dt.date(2000, 6, 1), k=3)
    return ladder.select(
        "ladder_pos", F.date_format("ladder_date", "yyyy-MM-dd").alias("ladder_day")
    )


@query(
    "q09_friday_ladder",
    sql="""
    WITH active AS (
      SELECT DISTINCT CAST(l_shipdate AS DATE) AS d FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '2000-06-01'
    ), ranked AS (
      SELECT d, count(*) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_before
      FROM active
    ), fridays AS (
      SELECT * FROM ranked WHERE dayofweek(d) = 5
    ), w1 AS (
      SELECT coalesce((SELECT min(d) FROM fridays WHERE n_before >= 2),
                      (SELECT min(d) FROM fridays)) AS d
    )
    SELECT 1 AS ladder_pos, strftime((SELECT d FROM w1), '%Y-%m-%d') AS expiry_day
    WHERE (SELECT d FROM w1) IS NOT NULL
    UNION ALL
    SELECT 2, strftime(min(d), '%Y-%m-%d') FROM fridays
    WHERE d > (SELECT d FROM w1) HAVING min(d) IS NOT NULL
    """,
)
def q09_friday_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/J4: the weekly Friday ladder (deltaweekly.py:43-111): W1 =
    first Friday with >=2 active expiries strictly before it (fallback:
    first Friday, :84-86), W2 = first Friday after W1."""
    li = t(spark, sf_dir, "lineitem").select(F.col("l_shipdate").cast("date").alias("d"))
    ladder = expiry_ops.friday_expiries(li, dt.date(2000, 6, 1))
    return ladder.select(
        "ladder_pos", F.date_format("expiry", "yyyy-MM-dd").alias("expiry_day")
    )


# q10_tail_n retired r13 (VERDICT r12 item 5, capacity consolidation):
# O2 tail-N bounding now runs INSIDE q06_keep_last as the reference's
# own composition (tail(300) history feed -> last-per-key dict,
# main.py:260,281-286) — still oracle-checked there every sweep, with
# the TakeOrderedAndProject shape pinned in tests/test_plans.py.


# q16_multisort_limit retired r14 (VERDICT r13 item 3, capacity
# consolidation): O1 multi-key sort + limit now runs INSIDE
# q21_options_pipeline as the reference's own final output sort
# (main.py:236-239) — still oracle-checked every sweep and STRONGER
# than before: q21 emits a sort_rank column so the order itself is
# hash-checked (the retired face's order was only plan-pinned), and
# the TakeOrderedAndProject shape stays pinned in tests/test_plans.py.


# ---------------------------------------------------------------------------
# Scalar functions (F1-F14)
# ---------------------------------------------------------------------------

SYMBOL_SQL = """
      SELECT l_orderkey, l_linenumber,
             CASE
               WHEN l_orderkey % 53 = 0 THEN 'ETH-BAD'
               WHEN l_orderkey % 59 = 0 THEN
                 concat(CASE WHEN l_linenumber % 2 = 0 THEN 'C' ELSE 'P' END,
                        '-ETH-', CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), '-3110')
               ELSE
                 concat(CASE WHEN l_linenumber % 2 = 0 THEN 'C' ELSE 'P' END,
                        '-ETH-', CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR),
                        '-', strftime(l_shipdate, '%d%m%y'))
             END AS symbol
      FROM lineitem
"""


def _symbols_expr(li: DataFrame) -> DataFrame:
    """Deterministic option-symbol corpus derived from lineitem —
    `{C|P}-ETH-{strike}-{DDMMYY}` with planted malformed rows (<4 dash
    parts / 4-char token), mirroring FIXTURES.md §1 edge cases. Keeps
    the source columns so downstream stages need no re-join."""
    side = F.when(F.col("l_linenumber") % 2 == 0, F.lit("C")).otherwise(F.lit("P"))
    strike_tok = F.floor("l_extendedprice").cast("string")
    good = F.concat(side, F.lit("-ETH-"), strike_tok, F.lit("-"),
                    F.date_format("l_shipdate", "ddMMyy"))
    short_tok = F.concat(side, F.lit("-ETH-"), strike_tok, F.lit("-3110"))
    sym = (
        F.when(F.col("l_orderkey") % 53 == 0, F.lit("ETH-BAD"))
        .when(F.col("l_orderkey") % 59 == 0, short_tok)
        .otherwise(good)
    )
    return li.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity", "l_partkey",
        sym.alias("symbol"),
    )


@query(
    "q11_symbol_parse",
    sql=f"""
    WITH syms AS ({SYMBOL_SQL})
    SELECT l_orderkey, l_linenumber, symbol,
           (len(string_split(symbol, '-')) >= 4
            AND regexp_matches(string_split(symbol, '-')[-1], '^\\d{{6}}$')) AS well_formed,
           CASE WHEN len(string_split(symbol, '-')) >= 4
                 AND regexp_matches(string_split(symbol, '-')[-1], '^\\d{{6}}$')
                THEN strftime(make_date(
                       2000 + CAST(substr(string_split(symbol, '-')[-1], 5, 2) AS INT),
                       CAST(substr(string_split(symbol, '-')[-1], 3, 2) AS INT),
                       CAST(substr(string_split(symbol, '-')[-1], 1, 2) AS INT)), '%Y-%m-%d')
           END AS expiry_day,
           coalesce(CASE WHEN len(string_split(symbol, '-')) >= 4
                THEN try_cast(string_split(symbol, '-')[3] AS DOUBLE) END, -1.0) AS strike,
           CASE WHEN string_split(symbol, '-')[1] = 'C' THEN 'Call' ELSE 'Put' END AS opt_type
    FROM syms
    """,
)
def q11_symbol_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3/P4: dash-split symbol parsing with the DDMMYY +2000
    pivot (main.py:131-138,177-190) and malformed-row rejection as
    NULL/false flags instead of exceptions."""
    syms = _symbols_expr(t(spark, sf_dir, "lineitem"))
    parts = F.split(F.col("symbol"), "-")
    tok = F.element_at(parts, -1)
    well = (F.size(parts) >= 4) & tok.rlike(r"^\d{6}$")
    expiry = F.when(
        well,
        F.make_date(
            F.lit(2000) + F.substring(tok, 5, 2).cast("int"),
            F.substring(tok, 3, 2).cast("int"),
            F.substring(tok, 1, 2).cast("int"),
        ),
    )
    # Output floats carry no NULLs (sentinel -1.0) — NULL doubles hash
    # differently across collect()/pandas fetch paths.
    strike = F.coalesce(
        F.when(F.size(parts) >= 4, F.element_at(parts, 3).try_cast("double")),
        F.lit(-1.0),
    )
    opt = F.when(F.element_at(parts, 1) == "C", F.lit("Call")).otherwise(F.lit("Put"))
    return syms.select(
        "l_orderkey", "l_linenumber", "symbol",
        well.alias("well_formed"),
        F.date_format(expiry, "yyyy-MM-dd").alias("expiry_day"),
        strike.alias("strike"),
        opt.alias("opt_type"),
    )


# q12_case_when retired r11 (VERDICT r10 item 7): F4's CASE mapping is
# oracle-checked inside q21_options_pipeline (the 'Call'/'Put'
# disposition column, main.py:196) every time that face runs.


# q13_json_extract_cast retired r12 (VERDICT r11 item 6): P1's
# get_json_object extraction, F5's cast-with-default, and F6's
# coercive err->NULL cast are oracle-checked inside q06_keep_last
# (the last_k_val / cast_failed columns) every time that face runs;
# the REST JSON source scan half of S1 stays covered by
# sources_datasource tests + q29's sink/source roundtrip.


@query(
    "q14_agg_battery",
    sql="""
    SELECT l_linestatus,
           count(DISTINCT CAST(l_shipdate AS DATE)) AS n_ship_days,
           strftime(min(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS min_day,
           strftime(max(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS max_day,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
           round(avg(l_quantity), 4) AS avg_qty
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q14_agg_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 distinct + A3 min/max (main.py:242-243 logging aggregates)
    plus exact interpolated percentiles (median / p90) per group —
    round-2 merge of the former q14_distinct_minmax + q24_percentiles
    (same group-by base). At 100 TB swap percentile() for
    approx_percentile with a documented error bound (same plan shape,
    sketch-mergeable — qx28 is that face).

    Scale shape: countDistinct beside plain aggregates plans an EXPAND
    that doubles every row through the wide (percentile-carrying)
    stage. Instead the distinct-day stats run as their own two-stage
    aggregate — pre-group on (l_linestatus, day) collapses map-side to
    ~|days| rows before any exchange — and the tiny per-group results
    broadcast-join back onto the percentile aggregate (same lesson as
    q41)."""
    li = t(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate").cast("date")
    day_stats = (
        li.select("l_linestatus", d.alias("_d"))
        .distinct()
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_ship_days"),
            F.date_format(F.min("_d"), "yyyy-MM-dd").alias("min_day"),
            F.date_format(F.max("_d"), "yyyy-MM-dd").alias("max_day"),
        )
    )
    main = li.groupBy("l_linestatus").agg(
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
    )
    return main.join(F.broadcast(day_stats), "l_linestatus").select(
        "l_linestatus", "n_ship_days", "min_day", "max_day",
        "min_price", "max_price", "median_qty", "p90_price", "avg_qty",
    )


# q15_conditional_counts retired r13 (VERDICT r12 item 5, capacity
# consolidation): its A4 sum(when) counters are folded into
# q01_pricing_summary's grouped aggregate (same expressions, same
# oracle check, zero extra shuffles there); the accumulator/observe
# form of A4 telemetry stays covered by tests/test_observe.py.


# q17_union_set_ops retired r14 (VERDICT r13 item 3, capacity
# consolidation): §2.7 union-append now runs INSIDE q29_sink_roundtrip
# as the S3 append-sink composition it always modeled (write slice A
# overwrite, APPEND slice B, read back — the oracle computes the same
# bag union relationally, proving sink-append IS UNION ALL), and the
# INTERSECT / EXCEPT cohort legs moved there verbatim (cached year
# cohorts, aggregated left-semi / left-anti plans — the cache shape
# stays pinned in tests/test_plans.py). The melt-inverse union face
# q46_unpivot_long is unchanged.


@query(
    "q18_scrub_nonfinite",
    sql="""
    WITH dirty AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_orderkey % 7 = 0 THEN CAST('Infinity' AS DOUBLE)
                  WHEN l_orderkey % 11 = 0 THEN CAST('-Infinity' AS DOUBLE)
                  WHEN l_orderkey % 13 = 0 THEN CAST('NaN' AS DOUBLE)
                  ELSE l_extendedprice END AS price
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           coalesce(CASE WHEN isnan(price) OR price = CAST('Infinity' AS DOUBLE)
                     OR price = CAST('-Infinity' AS DOUBLE) THEN NULL
                ELSE price END, 0.0) AS price_clean,
           (price IS NOT NULL AND NOT (isnan(price) OR abs(price) = CAST('Infinity' AS DOUBLE))) AS is_finite
    FROM dirty
    """,
)
def q18_scrub_nonfinite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: NaN/±inf -> NULL scrub (clean_dataframe_for_json,
    main.py:33-41), with non-finite cells planted deterministically."""
    li = t(spark, sf_dir, "lineitem")
    price = (
        F.when(F.col("l_orderkey") % 7 == 0, F.lit(float("inf")))
        .when(F.col("l_orderkey") % 11 == 0, F.lit(float("-inf")))
        .when(F.col("l_orderkey") % 13 == 0, F.lit(float("nan")))
        .otherwise(F.col("l_extendedprice"))
    )
    dirty = li.select("l_orderkey", "l_linenumber", price.alias("price"))
    # F12 scrub-to-NULL composed with F13 null-to-zero (main.py:33-41 +
    # :284-285) — also keeps the float output column NULL-free for the
    # cross-engine hash.
    clean = F.coalesce(
        F.when(
            F.isnan("price") | (F.col("price") == float("inf")) | (F.col("price") == float("-inf")),
            F.lit(None),
        ).otherwise(F.col("price")),
        F.lit(0.0),
    )
    finite = F.col("price").isNotNull() & ~(F.isnan("price") | (F.abs(F.col("price")) == float("inf")))
    return dirty.select(
        "l_orderkey", "l_linenumber",
        clean.alias("price_clean"), finite.alias("is_finite"),
    )


# ---------------------------------------------------------------------------
# Multi-way joins / ranking (scale-posture showcases)
# ---------------------------------------------------------------------------

@query(
    "q19_region_revenue",
    sql="""
    SELECT r.r_name, count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    GROUP BY r.r_name
    """,
)
def q19_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-chain join: region/nation/customer are broadcast so the
    only shuffle is the final small groupBy — the 100 TB plan shape
    (fact table never shuffles for the joins)."""
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        o.join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@query(
    "q20_topk_per_group",
    sql="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders)
    WHERE rk <= 2
    """,
)
def q20_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked top-k per group (the generalized W1 ladder shape). Spark
    pushes the rk<=2 predicate into the window sort (WindowGroupLimit)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice",
                 F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 2)
    )


# ---------------------------------------------------------------------------
# End-to-end reference pipeline, relationally (oracle-checked)
# ---------------------------------------------------------------------------

@query(
    "q21_options_pipeline",
    sql=f"""
    WITH tickers AS (
      SELECT l_orderkey * 10 + l_linenumber AS ingest_order,
             CASE WHEN l_orderkey % 101 = 0 THEN '' ELSE symbol END AS symbol,
             CASE WHEN l_linenumber % 2 = 0 THEN 'call_options' ELSE 'put_options' END AS contract_type,
             CASE WHEN l_orderkey % 103 = 0 THEN 0.0 ELSE l_extendedprice END AS strike,
             50000.0 AS spot,
             l_quantity AS close,
             l_partkey % 1000 AS oi
      FROM ({SYMBOL_SQL.replace('l_linenumber,', 'l_linenumber, l_extendedprice, l_quantity, l_partkey,')}) syms
    ), guarded AS (
      SELECT * FROM tickers
      WHERE symbol IS NOT NULL AND symbol <> ''
        AND strike IS NOT NULL AND strike <> 0
        AND contract_type IS NOT NULL AND contract_type <> ''
        AND spot IS NOT NULL AND spot <> 0
    ), parsed AS (
      SELECT *,
             CASE WHEN len(string_split(symbol, '-')) >= 4
                   AND regexp_matches(string_split(symbol, '-')[-1], '^\\d{{6}}$')
                  THEN make_date(
                    2000 + CAST(substr(string_split(symbol, '-')[-1], 5, 2) AS INT),
                    CAST(substr(string_split(symbol, '-')[-1], 3, 2) AS INT),
                    CAST(substr(string_split(symbol, '-')[-1], 1, 2) AS INT))
             END AS expiry
      FROM guarded
    ), targets AS (
      SELECT DISTINCT expiry FROM parsed
      WHERE expiry IS NOT NULL AND expiry >= DATE '2000-06-01'
      ORDER BY expiry LIMIT 3
    ), filtered AS (
      SELECT p.* FROM parsed p
      WHERE p.strike BETWEEN 50000.0 * 0.93 AND 50000.0 * 1.07
        AND p.expiry IN (SELECT expiry FROM targets)
    ), deduped AS (
      SELECT * FROM filtered
      QUALIFY row_number() OVER (PARTITION BY symbol ORDER BY ingest_order DESC) = 1
    ), final AS (
      SELECT symbol AS SYMBOL,
             strftime(expiry, '%Y-%m-%d') AS Expiry_Day,
             strike AS Strike,
             CASE WHEN contract_type = 'call_options' THEN 'Call' ELSE 'Put' END AS Option_Type,
             close AS Close, oi AS OI
      FROM deduped
    )
    SELECT *, CAST(row_number() OVER (ORDER BY Expiry_Day, Strike, SYMBOL) AS INT)
                AS sort_rank
    FROM (SELECT * FROM final ORDER BY Expiry_Day, Strike, SYMBOL LIMIT 100)
    """,
)
def q21_options_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full fetch dataflow (fetch_eth_options_data,
    main.py:89-250) run relationally end-to-end over symbols derived
    from lineitem: falsy guard (P2) -> symbol parse (P4/F1-F3) -> spot
    band ±7% (P3) -> top-3 expiry ladder semi-join (W1/P5) -> CASE
    (F4) -> keep-last dedup (W4) -> multi-key output sort + limit (O1,
    folded from the retired q16_multisort_limit, r14: the reference's
    own final sort of the snapshot frame, main.py:236-239). One lazy
    Catalyst plan, one scan of the fact table (the symbol corpus is
    computed inline, not joined). The sort leg plans as
    TakeOrderedAndProject (pinned in test_plans.py) on the unique
    total order (Expiry_Day, Strike, SYMBOL) — SYMBOL is unique after
    keep-last — and emits ``sort_rank`` so the ordering itself is
    hash-CHECKED by the oracle (the retired face's order was only
    plan-pinned; the LIMIT 100 exceeds the face's row count at every
    test sf, so no coverage is dropped)."""
    li = t(spark, sf_dir, "lineitem")
    syms = _symbols_expr(li)
    tick = (
        syms.select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("ingest_order"),
            F.when(F.col("l_orderkey") % 101 == 0, F.lit("")).otherwise(F.col("symbol")).alias("symbol"),
            F.when(F.col("l_linenumber") % 2 == 0, F.lit("call_options"))
             .otherwise(F.lit("put_options")).alias("contract_type"),
            F.when(F.col("l_orderkey") % 103 == 0, F.lit(0.0)).otherwise(F.col("l_extendedprice")).alias("strike"),
            F.lit(50000.0).alias("spot"),
            F.col("l_quantity").alias("close"),
            (F.col("l_partkey") % 1000).alias("oi"),
        )
    )
    guarded = tick.where(null_guard("symbol", "strike", "contract_type", "spot"))
    parts = F.split(F.col("symbol"), "-")
    tok = F.element_at(parts, -1)
    well = (F.size(parts) >= 4) & tok.rlike(r"^\d{6}$")
    expiry = F.when(
        well,
        F.make_date(
            F.lit(2000) + F.substring(tok, 5, 2).cast("int"),
            F.substring(tok, 3, 2).cast("int"),
            F.substring(tok, 1, 2).cast("int"),
        ),
    )
    from eth_options_data_pipeline_spark.operators import scratch
    parsed = scratch.scoped_cache(guarded.withColumn("expiry", expiry), "q21")
    targets = (
        parsed.select("expiry")
        .where(F.col("expiry").isNotNull() & (F.col("expiry") >= F.lit(dt.date(2000, 6, 1))))
        .distinct().orderBy("expiry").limit(3)
    )
    filtered = parsed.where(strike_band("strike", "spot", 7.0))
    filtered = expiry_membership(filtered, "expiry", targets)
    deduped = keep_last(filtered, keys=["symbol"], order_col="ingest_order")
    opt = F.when(F.col("contract_type") == "call_options", F.lit("Call")).otherwise(F.lit("Put"))
    final = deduped.select(
        F.col("symbol").alias("SYMBOL"),
        F.date_format("expiry", "yyyy-MM-dd").alias("Expiry_Day"),
        F.col("strike").alias("Strike"),
        opt.alias("Option_Type"),
        F.col("close").alias("Close"),
        F.col("oi").alias("OI"),
    )
    # O1 leg (folded q16): global multi-key sort + limit plans as
    # TakeOrderedAndProject (a bounded heap per task + driver merge,
    # never a full sort materialization); the row_number window then
    # runs over <= 100 rows (bounded by the LIMIT literal, not the
    # data), making the order itself part of the oracle hash.
    keys = ["Expiry_Day", "Strike", "SYMBOL"]
    top = final.orderBy(*keys).limit(100)
    w_rank = Window.orderBy(*keys)
    return top.withColumn(
        "sort_rank", F.row_number().over(w_rank).cast("int"))
