"""Token-budget corpus selection: keep the best documents until a
token budget is spent.

"Train on the best 500B tokens of this 5T-token crawl" is a
cumulative-sum cutoff over a quality ordering: sort by (quality desc,
id) and keep every doc whose RUNNING token total stays within budget.
The running sum makes the boundary exact and deterministic — unlike
per-doc probability sampling, re-runs pick the identical corpus, and
the id tie-break makes equal-quality orderings stable.

Scale shape — a distributed prefix sum, NOT a global window. The
naive ``sum().over(Window.orderBy(...))`` with no partition key drags
the entire corpus through one window partition (Spark even warns); at
100 TB that is a single-task sort. Instead:

  1. range-repartition on the cheap order key (quality desc, id) into
     a fixed partition count read from metadata
     (``sources.exchange_partitions``), so AQE cannot coalesce the
     range onto one task and no job runs to choose the count;
  2. evaluate the token count AFTER that exchange: the range
     partitioner's sampling job re-runs only the projection below it,
     so a tokenizer there would run twice per row. Only (id, quality,
     tokens) and the partition id cross the next exchange;
  3. per-partition running sums — a window PARTITIONED BY the physical
     partition id, so every task scans only its own slice;
  4. per-partition totals (one tiny aggregate: |partitions| rows) taken
     as the maximum running sum over the same ``_pid`` exchange, turned
     into exclusive prefix offsets and broadcast-joined back.

The result is exact regardless of where the range boundaries fall,
because the (quality desc, id) order is total; only step 4's
|partitions|-row table ever leaves the executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.sources import exchange_partitions


def select_to_budget(docs: DataFrame, quality_col: str, token_col: str | Column,
                     budget: int) -> DataFrame:
    """Docs whose cumulative token count (in quality-desc, id-asc
    order) stays within ``budget``. The first doc that would overflow
    is EXCLUDED (strict "at most N tokens"); a doc larger than the
    whole remaining budget is never kept.

    ``token_col`` is a column of ``docs`` or a named Column computed
    from them (a tokenizer count); either way it is evaluated once per
    row, after the range exchange. Output columns: ``doc_id``,
    ``quality_col``, the token column and ``cum_tokens`` (this doc's
    running total, itself <= budget) for downstream packing. Token
    counts are non-negative, so a partition's last running sum is its
    maximum. The range exchange has ``sources.exchange_partitions``
    partitions."""
    order = [F.col(quality_col).desc(), F.col("doc_id").asc()]
    ranged = docs.repartitionByRange(
        exchange_partitions(docs), *order)
    cols = [F.col("doc_id"), F.col(quality_col)]
    if isinstance(token_col, Column):
        cols.append(token_col)
    elif token_col != quality_col:
        cols.append(F.col(token_col))
    scored = ranged.select(*cols, F.spark_partition_id().alias("_pid"))
    tokens = scored.columns[-2]

    local_w = (Window.partitionBy("_pid").orderBy(*order)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = scored.withColumn("_cum_local", F.sum(tokens).over(local_w))

    # exclusive prefix offsets over the tiny per-partition totals
    # table; a partition's total is its last running sum, so this
    # branch reads the same _pid exchange as the rows it offsets
    totals = local.groupBy("_pid").agg(F.max("_cum_local").alias("_total"))
    off_w = (Window.orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offsets = totals.withColumn(
        "_offset", F.sum("_total").over(off_w) - F.col("_total")).drop("_total")

    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("cum_tokens", F.col("_cum_local") + F.col("_offset"))
        .where(F.col("cum_tokens") <= budget)
        .drop("_pid", "_cum_local", "_offset")
    )
