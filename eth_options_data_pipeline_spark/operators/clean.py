"""Cleaning / coercion operators (SURVEY §2 F5, F6, F12, F13).

The reference scrubs NaN/±inf to None before its JSON sink
(clean_dataframe_for_json, main.py:33-41) and coerces stringly state
cells with pd.to_numeric(errors='coerce') (main.py:276-277). Spark
equivalents are expression-level and stay in codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType


def scrub_nonfinite(df: DataFrame) -> DataFrame:
    """F12: NaN / +inf / -inf -> NULL on every float/double column, as
    one ``selectExpr`` over the schema (one JVM parse, not a Column
    tree per column)."""
    exprs = []
    for f in df.schema.fields:
        c = "`" + f.name.replace("`", "``") + "`"
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = (f"CASE WHEN isnan({c}) OR {c} = double('Infinity') OR {c} = double('-Infinity')"
                 f" THEN NULL ELSE {c} END AS {c}")
        exprs.append(c)
    return df.selectExpr(*exprs)


def to_ist(ts: Column) -> Column:
    """F8 (main.py:126): UTC -> IST conversion. The reference computes
    ``datetime.utcnow() + timedelta(hours=5, minutes=30)``; Asia/Kolkata
    is a fixed +5:30 offset with no DST, so ``from_utc_timestamp`` is
    exactly that shift expressed timezone-correctly."""
    return F.from_utc_timestamp(ts, "Asia/Kolkata")
