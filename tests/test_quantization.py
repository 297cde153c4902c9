"""int8 embedding quantization: code range, reconstruction bound,
degenerate vectors."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.quantization import (
    Q_COL, SCALE_COL, dequantize, quantize_int8,
)
from eth_options_data_pipeline_spark.sources import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return quantize_int8(
        load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    ).cache()


def test_codes_in_range_and_scale_nonnegative(spark, emb):
    bad = emb.where(
        F.exists(F.col(Q_COL), lambda x: (x > 127) | (x < -127))
        | (F.col(SCALE_COL) < 0)
    ).count()
    assert bad == 0


def test_reconstruction_error_bound(spark, emb):
    """|x - q*s| <= s/2 elementwise (round-to-nearest guarantee)."""
    err = F.array_max(F.zip_with(
        F.col("embedding"), dequantize(F.col(Q_COL), F.col(SCALE_COL)),
        lambda x, d: F.abs(x - d)))
    # strict bound plus float slack
    bad = emb.where(err > F.col(SCALE_COL) / 2 + 1e-9).count()
    assert bad == 0


def test_zero_vector_safe(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0], "embedding": [[0.0, 0.0, 0.0]]}))
    row = quantize_int8(df).first()
    assert row[SCALE_COL] == 0.0
    assert list(row[Q_COL]) == [0, 0, 0]
