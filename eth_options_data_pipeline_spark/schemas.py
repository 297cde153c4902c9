"""Canonical StructTypes for the engine.

``TICKER_RAW`` models the reference's REST payload rows (all numerics
arrive as *strings*; see reference main.py:159-169 where float()/int()
casts are applied per row) and ``OPTIONS_CHAIN`` is the fixed
11-column output table (reference main.py:315-316 ``columns_order``).
"""

from __future__ import annotations

from pyspark.sql.types import (
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# REST source payload — one row per option contract. Numerics kept as
# strings to exercise try_cast (reference main.py:168-169,197-198).
TICKER_RAW = StructType([
    StructField("symbol", StringType()),         # C-ETH-3200-311025
    StructField("contract_type", StringType()),  # call_options | put_options
    StructField("strike_price", StringType()),
    StructField("spot_price", StringType()),
    StructField("mark_price", StringType()),
    StructField("oi_contracts", StringType()),
])

# The engine's core output table (reference main.py:315-316).
# Date/Time are true temporal types internally; formatted only at the
# sink boundary (SURVEY §7.4 trap 6).
OPTIONS_CHAIN = StructType([
    StructField("SYMBOL", StringType()),
    StructField("Date", DateType()),
    StructField("Time", TimestampType()),
    StructField("Future_Price", DoubleType()),
    StructField("Expiry_Date", DateType()),
    StructField("Strike", DoubleType()),
    StructField("Option_Type", StringType()),
    StructField("Close", DoubleType()),
    StructField("OI", LongType()),
    StructField("Open", DoubleType()),
    StructField("OI_Change", LongType()),
])

# Driver-provided TPC-H-ish tables (FIXTURES.md §4); parquet carries
# its own schema — these names are the registration contract.
TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
