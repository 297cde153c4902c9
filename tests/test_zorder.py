"""Z-order key: interleave exactness, per-dim locality, and grid-cell
clamping."""

from __future__ import annotations

from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators import zorder as zo


def _py_interleave(vals: list[int], bits: int) -> int:
    k = len(vals)
    z = 0
    for d, v in enumerate(vals):
        for i in range(bits):
            z |= ((v >> i) & 1) << (i * k + d)
    return z


def test_interleave_matches_python_replica(spark):
    pts = [(x, y) for x in (0, 1, 5, 107, 200, 255) for y in (0, 3, 64, 255)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn(
            "z", zo.interleave([F.col("x"), F.col("y")], 8)
        ).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == _py_interleave([x, y], 8)


def test_interleave_sql_matches_column_form(spark):
    df = spark.range(300).select(
        (F.col("id") % 251).alias("x"), ((F.col("id") * 7) % 253).alias("y")
    )
    expr = zo.interleave_sql(["x", "y"], 8)
    mismatch = (
        df.withColumn("z_col", zo.interleave([F.col("x"), F.col("y")], 8))
        .withColumn("z_sql", F.expr(expr))
        .where(F.col("z_col") != F.col("z_sql"))
        .count()
    )
    assert mismatch == 0


def test_zkey_monotone_per_dimension(spark):
    # With the other coordinate fixed, z is strictly increasing in each
    # dimension — the property that makes per-file z-runs rectangular.
    for fixed_y in (0, 17, 255):
        zs = [_py_interleave([x, fixed_y], 8) for x in range(256)]
        assert zs == sorted(zs) and len(set(zs)) == 256
    for fixed_x in (0, 200):
        zs = [_py_interleave([fixed_x, y], 8) for y in range(256)]
        assert zs == sorted(zs) and len(set(zs)) == 256


def test_grid_cell_clamps_and_scales(spark):
    df = spark.createDataFrame(
        [(-5,), (0,), (9,), (10,), (2559,), (2560,), (99999,)], "v long"
    )
    got = [r.g for r in df.select(zo.grid_cell(F.col("v"), 10, 256).alias("g"))
           .collect()]
    assert got == [0, 0, 0, 1, 255, 255, 255]
