"""Sources: parquet table loaders and the synthetic REST-shaped ticker source.

The reference's source is an HTTP GET against the Delta Exchange
tickers endpoint (reference main.py:94-104); at engine scale the
equivalent is landed raw JSON/parquet read by ``spark.read``. For
hermetic tests we provide a deterministic generator that produces the
same row shape (all-string numerics, planted edge cases per
FIXTURES.md §1, always included).

``partitions_for_bytes`` sizes corpus-scaled shuffles from source bytes;
its expansion factor, per-task budget and cap are the module constants
``PARTITION_EXPANSION``, ``PARTITION_TARGET_BYTES`` and ``PARTITION_CAP``.
"""

from __future__ import annotations

import datetime as dt
import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from eth_options_data_pipeline_spark.schemas import TESTDATA_TABLES, TICKER_RAW

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


SPREAD_MAX_BYTES = 1 << 30  # inputs under 1 GiB are "small"
SPREAD_MIN_BYTES = 1 << 16  # ...but under 64 KiB they are TINY: a
                            # 5-row dimension gains nothing from 32
                            # partitions, and the round-robin exchange
                            # plus 32-task scheduling is pure overhead
                            # repeated on every face that loads it
                            # (tiny dims are broadcast downstream
                            # anyway, which reads one partition as
                            # happily as thirty-two)


def spread_small_input(df: DataFrame, path: str | None = None) -> DataFrame:
    """Round-robin repartition small single-split inputs across cores.

    The driver's testdata parquet files carry ONE row group, so Spark
    scans them as one partition and every downstream per-row expression
    runs on a single core. The file-size check is free (no RDD
    materialization); on a real lake the inputs exceed the threshold
    (and arrive multi-split), so the branch never fires and no extra
    shuffle is added. Catalyst still pushes filters/projections below
    the exchange into the scan. Tiny files (< SPREAD_MIN_BYTES) stay
    single-partition: per-row work on a few hundred rows is cheaper
    than the exchange that would spread it.
    """
    try:
        small = (path is not None
                 and SPREAD_MIN_BYTES <= os.path.getsize(path)
                 < SPREAD_MAX_BYTES)
    except OSError:
        small = False
    if small:
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df


# partitions_for_bytes sizing: parquet bytes -> in-memory hash-relation
# bytes, the per-task build budget, and the partition-count cap
PARTITION_EXPANSION = 64.0
PARTITION_TARGET_BYTES = 32 << 20
PARTITION_CAP = 1 << 17


def partitions_for_bytes(df: DataFrame) -> int:
    """Shuffle-partition count scaled to a DataFrame's SOURCE bytes —
    the partitions-scale-with-data rule a real cluster applies by
    sizing executors to the corpus (VERDICT r14 item 3, replacing the
    RAMP_r14 config note).

    A shuffled-hash join whose BUILD side is corpus-scaled (both-fat
    joins like dx10's exact-Jaccard verify, where no side is bounded)
    has per-task build memory ~ total_build_bytes / num_partitions: a
    FIXED partition count turns corpus growth into an OOM (the r14
    sf10 ramp measured exactly that at 32 x 8g; 24g cleared it, but
    memory-scales-with-data is the wrong lever when partition count
    is free). ``PARTITION_EXPANSION`` converts on-disk parquet bytes to
    the in-memory hash-relation estimate (shingle arrays measured ~31x
    their parquet source at sf10; 64 = that, doubled);
    ``PARTITION_TARGET_BYTES`` is the per-task build budget. The floor
    (the core count) keeps small inputs at the session default so test-scale
    plans are byte-identical; ``PARTITION_CAP`` bounds scheduler pressure —
    past it, raise executor memory instead. File listing is
    driver-side and free; non-file-backed plans (checkpoints, local
    relations) report no files and stay at the floor, so call this
    on the SOURCE table before any checkpoint.

    Effective join parallelism is ``max(this, spark.sql.shuffle.
    partitions)``: Catalyst re-shuffles a user repartition(n, key)
    under a shuffled join UP to the session conf when n is smaller
    (measured r15: repart 5 or 8 under conf 32 both plan at 32;
    repart 64 survives). Benign here — the rule exists only to RAISE
    parallelism above a too-small fixed count, never to lower it."""
    total = _source_bytes(df)
    floor = df.sparkSession.sparkContext.defaultParallelism
    need = -(-int(total * PARTITION_EXPANSION) // PARTITION_TARGET_BYTES)
    return max(floor, min(PARTITION_CAP, need))


def exchange_partitions(df: DataFrame) -> int:
    """Partition count for a ``repartition(n, ...)`` or
    ``repartitionByRange(n, ...)`` exchange over ``df`` whose consumers
    do more work per row than its bytes show (a pair expansion, a
    tokenizer): ``partitions_for_bytes`` when ``df`` is file-backed,
    else the session parallelism. Both are read from plan metadata
    (file listing), never by running a job. AQE sizes a plain exchange
    by bytes and would coalesce a small input onto a few partitions; a
    fixed count is exempt from that coalescing."""
    if df.inputFiles():
        return partitions_for_bytes(df)
    return df.sparkSession.sparkContext.defaultParallelism


def _source_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of ``df``'s input files, across filesystems.

    ``file://`` URIs resolve via ``os.path.getsize``; anything else
    (hdfs://, s3a://, ...) goes through the Hadoop FileSystem API so
    the partitions rule holds on a real cluster, not only local runs
    (ADVICE r15: the silent local-only fallback would re-open the
    fixed-partition OOM the rule exists to prevent). A listing failure
    returns 0 — the caller's floor — but WARNS, so the degradation is
    visible instead of silent."""
    import warnings

    total = 0
    fallback_err: Exception | None = None
    try:
        remote: dict[str, set[str]] = {}
        for p in df.inputFiles():
            if p.startswith("file:"):
                total += os.path.getsize(p.removeprefix("file://")) or 0
            else:
                # batch remote lookups per PARENT directory: one
                # listStatus RPC per directory instead of one
                # getFileStatus round trip per file (r16 review —
                # a thousands-of-files table would otherwise pay
                # thousands of sequential driver RPCs here)
                parent, _, name = p.rpartition("/")
                remote.setdefault(parent, set()).add(name)
        if remote:
            jvm = df.sparkSession._jvm
            jsc = df.sparkSession.sparkContext._jsc
            hconf = jsc.hadoopConfiguration()
            for parent, names in remote.items():
                jpath = jvm.org.apache.hadoop.fs.Path(parent)
                fs = jpath.getFileSystem(hconf)
                for st in fs.listStatus(jpath):
                    if st.getPath().getName() in names:
                        total += st.getLen()
    except (OSError, Py4JJavaError) as exc:  # listing error: degrade visibly
        fallback_err = exc
        total = 0
    if total == 0:
        warnings.warn(
            "partitions_for_bytes: could not size the source "
            f"({'no input files' if fallback_err is None else fallback_err}); "
            "falling back to the partition floor — at corpus scale this "
            "reverts to the fixed-partition regime the rule exists to "
            "prevent. Non-file-backed plans (checkpoints, local "
            "relations) should pass the SOURCE table instead.",
            stacklevel=3)
    return total


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark
    rejects by default; read it as raw nanos (legacy conf, settable at
    runtime) and truncate to micros — the same ns->us truncation DuckDB
    applies, so oracle comparisons agree.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = _read_parquet(spark, path)
        return spread_small_input(normalize_event_time(raw), path)
    return spread_small_input(_read_parquet(spark, path), path)


# Inferred schemas by file version: (path, size, mtime_ns) -> StructType.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    version of the file. Inference runs a Spark job; later reads of the
    same version declare the schema it found and run none. The schemas
    are not declared statically because ``events.ts`` has arrived in
    three encodings (see ``normalize_event_time``): a replaced file has
    a new size or mtime and is inferred again. The cache is
    shared by every caller in the process, which is safe because its
    key names one version of one file. Paths that are not local files
    are inferred on every read."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def normalize_event_time(df: DataFrame) -> DataFrame:
    """Pin the event-time column to plain ``TIMESTAMP`` (with local tz).

    The driver's ``events.parquet`` has arrived in three flavors across
    rounds: TIMESTAMP(NANOS) (readable only as raw nanos via the legacy
    conf), TIMESTAMP_NTZ, and plain TIMESTAMP(MICROS). Every downstream
    operator (``unix_micros`` session gaps, bigint casts, watermarks)
    requires ``TimestampType``, so the source boundary owns the
    normalization — queries never see a raw un-normalized ``ts``.
    Under the session's fixed UTC timezone (session.py) the NTZ->TZ cast
    is the identity on the stored micros, so DuckDB (which reads the
    same values as naive) hashes agree.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":  # TIMESTAMP(NANOS) via nanosAsLong: truncate ns->us like DuckDB
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def read_ticker_json(spark: SparkSession, path: str) -> DataFrame:
    """Landed REST payload (one JSON object per line, the ``result``
    array pre-exploded). PERMISSIVE mode keeps malformed rows as rows
    with nulls — matching the reference's skip-bad-row semantics
    (main.py:220-223) once the null-guard filter runs.
    """
    return (
        spark.read.schema(TICKER_RAW)
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def synthetic_tickers(spark: SparkSession, as_of_date: dt.date) -> DataFrame:
    """Deterministic REST-shaped ticker batch (FIXTURES.md §1).

    Builds calls+puts on a 41-strike ladder around a 3200 spot for a set
    of expiries relative to ``as_of_date``: >=4 future dates of which >=2
    are Fridays, >=2 non-Friday dailies before the first Friday, and a
    past date, plus the malformed/edge rows the reference guards
    against (main.py:164-190).
    """
    spot, n_strikes = 3200.0, 40
    def fmt(d: dt.date) -> str:
        return d.strftime("%d%m%y")

    # expiry ladder: tomorrow, +2d, first Friday >= +3d, next Friday, past date
    days_ahead = [1, 2]
    d3 = as_of_date + dt.timedelta(days=3)
    fri1 = d3 + dt.timedelta(days=(4 - d3.weekday()) % 7)
    fri2 = fri1 + dt.timedelta(days=7)
    expiries = [as_of_date + dt.timedelta(days=n) for n in days_ahead] + [fri1, fri2]
    past = as_of_date - dt.timedelta(days=3)

    rows = []
    step = spot * 0.02
    for exp in expiries + [past]:
        for i in range(-n_strikes // 2, n_strikes // 2 + 1):
            strike = round(spot + i * step, 2)
            for ct, p in (("call_options", "C"), ("put_options", "P")):
                sym = f"{p}-ETH-{int(strike)}-{fmt(exp)}"
                mark = round(abs(spot - strike) * 0.1 + 5.0 + i * 0.01, 2)
                oi = abs(i) * 10 + (3 if ct == "call_options" else 7)
                rows.append((sym, ct, str(strike), str(spot), str(mark), str(oi)))

    rows += [
        (None, "call_options", "3200", str(spot), "1", "1"),        # null symbol
        ("", "call_options", "3200", str(spot), "1", "1"),          # empty symbol (falsy)
        ("C-ETH-0-" + fmt(expiries[0]), "call_options", "0", str(spot), "1", "1"),  # zero strike (falsy)
        ("ETH-3200", "call_options", "3200", str(spot), "1", "1"),  # <4 dash parts
        ("C-ETH-3200-3110", "call_options", "3200", str(spot), "1", "1"),  # 4-char expiry token
        ("C-ETH-3200-31OCT5", "call_options", "3200", str(spot), "1", "1"),  # non-numeric token
        ("C-ETH-3200-" + fmt(expiries[0]), None, "3200", str(spot), "1", "1"),  # null contract_type
        ("C-ETH-3200-" + fmt(expiries[0]), "call_options", "3200", None, "1", "1"),  # null spot
        # duplicate symbol, different mark/oi -> keep-LAST must win
        (f"C-ETH-{int(spot)}-" + fmt(expiries[0]), "call_options", str(spot), str(spot), "111.11", "999"),
    ]

    return spark.createDataFrame(rows, TICKER_RAW)
