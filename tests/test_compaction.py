"""Compaction: fewer files out than in, a metadata-only inventory, and
a lossless rewrite (content-identical read-back)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.compaction import (
    compact, file_inventory,
)
from eth_options_data_pipeline_spark.sources import load_table


def _parquet_files(path):
    return [f for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                 recursive=True)]


def test_compact_lossless_and_fewer_files(spark, sf_small, tmp_path):
    docs = load_table(spark, sf_small, "documents")
    small = str(tmp_path / "small")
    out = str(tmp_path / "out")
    docs.repartition(32).write.parquet(small)
    assert len(_parquet_files(small)) == 32

    n_out = compact(spark, small, out, target_bytes=1 << 20)
    got_files = _parquet_files(out)
    assert len(got_files) == n_out < 32

    # content-identical: same rows, nothing dropped or duplicated
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert (back.select("doc_id").subtract(docs.select("doc_id")).count()
            == 0)
    a = docs.agg(F.sum(F.crc32(F.col("text").cast("binary")))).first()[0]
    b = back.agg(F.sum(F.crc32(F.col("text").cast("binary")))).first()[0]
    assert a == b


def test_inventory_lists_metadata_only(spark, sf_small, tmp_path):
    docs = load_table(spark, sf_small, "documents")
    p = str(tmp_path / "t")
    docs.repartition(4).write.parquet(p)
    inv = file_inventory(spark, p)
    rows = inv.collect()
    assert len(rows) == 4
    assert all(r.bytes > 0 and r.path.endswith(".parquet") for r in rows)
    # the content column must be pruned out of the scan
    assert "content" not in inv.schema.names
    assert "content" not in inv._jdf.queryExecution().executedPlan().toString()
