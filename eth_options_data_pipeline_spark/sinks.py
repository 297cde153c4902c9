"""Sinks (SURVEY §2 S3/S4): append-mode parquet partitioned by Date.

The reference appends to a Google Sheet (main.py:332-351); the engine
lands partitioned parquet. Partitioning by run date gives (a) a state
read sized by metadata: the tail-300 policy opens only the newest
``Date`` partitions whose footer row counts reach 300, with the
declared schema, so opening it runs no Spark job; (b) idempotent
re-runs via dynamic partition overwrite keyed by run id.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eth_options_data_pipeline_spark.operators.clean import scrub_nonfinite
from eth_options_data_pipeline_spark.schemas import OPTIONS_CHAIN


def append_snapshot(df: DataFrame, path: str) -> None:
    """S3: scrub non-finite floats (main.py:338) then append,
    partitioned by ``Date``.

    The sink owns the file order: rows are sorted by SYMBOL within each
    output file, so per-symbol reads benefit from parquet min/max
    row-group pruning — the poor-man's Z-order for a single clustering
    key. A global sort upstream would be replaced by this one before it
    reached disk, so ``pipeline.run`` hands over unsorted rows; readers
    that need the reference's row order sort by it
    (``snapshot.APPEND_ORDER``).
    """
    (
        scrub_nonfinite(df)
        .sortWithinPartitions("SYMBOL")
        .write.mode("append")
        .partitionBy("Date")
        .parquet(path)
    )


def overwrite_run(df: DataFrame, path: str, run_id: str) -> None:
    """Idempotent append: each run writes its own ``Date``/``run_id``
    partition; re-running a failed job overwrites exactly its partition
    (the reference double-appends on re-run — SURVEY §2.10 exactly-once
    gap).
    """
    (
        scrub_nonfinite(df)
        .withColumn("run_id", F.lit(run_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("Date", "run_id")
        .parquet(path)
    )


def read_history(spark: SparkSession, path: str, tail: int | None = None) -> DataFrame | None:
    """S2: read the cumulative table back (main.py:252-264), opened
    from metadata alone.

    With ``tail``, only the newest ``Date`` partitions are opened: they
    are walked newest first, summing parquet footer row counts, until
    the total reaches ``tail``, and every partition the walk touched is
    kept whole. ``snapshot.APPEND_ORDER`` leads with ``Date``, so every
    row of an older partition ranks below the ``tail`` rows kept and
    ``tail_n(read_history(spark, path, n), n)`` is the exact tail of
    the whole table. Without ``tail`` every partition is opened.

    The engine writes this table itself, so it is read with the
    declared ``OPTIONS_CHAIN`` schema: no inference job and no listing
    of the partitions left out. A file whose column types disagree
    with it fails the query that reads it; an unreadable footer fails
    here. Either way a run never appends against history it did not
    read.

    The kept partitions are listed on the driver while there are at
    most ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    (32) of them. Keeping more costs one Spark listing job: that
    happens without ``tail`` on a table of more than 32 days, and with
    it only on a table holding fewer than about ``tail / 32`` rows a
    day.

    None when there is no table yet: the path does not exist, or no
    ``Date`` partition holds a data file because every earlier run
    appended zero rows.
    """
    fs, root = _filesystem(path)
    parts = [i for i in fs.get_file_info(pafs.FileSelector(root, allow_not_found=True))
             if i.type == pafs.FileType.Directory and i.base_name.startswith("Date=")]
    parts.sort(key=lambda i: i.base_name, reverse=True)  # ISO dates sort as text
    keep, rows = [], 0
    for part in parts:
        files = [i.path for i in fs.get_file_info(pafs.FileSelector(part.path))
                 if i.type == pafs.FileType.File and not i.base_name.startswith(("_", "."))]
        if not files:
            continue
        keep.append(f"{path.rstrip('/')}/{part.base_name}")
        if tail is not None:
            rows += sum(_footer_rows(fs, f) for f in files)
            if rows >= tail:
                break
    if not keep:
        return None
    return spark.read.option("basePath", path).schema(OPTIONS_CHAIN).parquet(*keep)


def _filesystem(path: str) -> tuple[pafs.FileSystem, str]:
    """The pyarrow filesystem holding ``path`` and the path on it."""
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(path)


def _footer_rows(fs: pafs.FileSystem, file: str) -> int:
    try:
        return pq.read_metadata(file, filesystem=fs).num_rows
    except pa.ArrowException as exc:
        raise ValueError(f"unreadable history file {file}: {exc}") from exc

