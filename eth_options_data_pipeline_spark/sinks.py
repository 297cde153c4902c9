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


def append_snapshot(df: DataFrame, path: str, partition_col: str = "Date",
                    cluster_by: tuple[str, ...] = ("SYMBOL",)) -> None:
    """S3: scrub non-finite floats (main.py:338) then append.

    The sink owns the file order: rows are sorted by ``cluster_by``
    within each output file, so per-symbol reads benefit from parquet
    min/max row-group pruning — the poor-man's Z-order for a single
    clustering key. A global sort upstream would be replaced by this
    one before it reached disk, so callers hand over unsorted rows
    (``pipeline.run(..., sort=False)``); readers that need the
    reference's row order sort by it (``snapshot.APPEND_ORDER``).
    """
    out = scrub_nonfinite(df)
    if cluster_by and set(cluster_by) <= set(out.columns):
        out = out.sortWithinPartitions(*cluster_by)
    out.write.mode("append").partitionBy(partition_col).parquet(path)


def overwrite_run(df: DataFrame, path: str, run_id: str,
                  partition_cols: tuple[str, ...] = ("Date",)) -> None:
    """Idempotent append: each run writes its own `run_id` partition;
    re-running a failed job overwrites exactly its partition (the
    reference double-appends on re-run — SURVEY §2.10 exactly-once gap).
    """
    (
        scrub_nonfinite(df)
        .withColumn("run_id", F.lit(run_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*(*partition_cols, "run_id"))
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


def compact_partition(spark: SparkSession, path: str, partition: str,
                      target_files: int = 1,
                      cluster_by: tuple[str, ...] = ("SYMBOL",)) -> int:
    """Maintenance: rewrite one Date partition into `target_files`
    clustered files. Hourly appends leave one small file per run
    (24/day); at scale the scan cost is dominated by file-open overhead
    until partitions are compacted. Returns the row count rewritten.

    Crash-safety (swap-via-rename): write to `_compact_tmp_*`, move the
    live dir aside to `_compact_old_*`, rename tmp into place, then
    delete old. A crash at ANY point leaves either the original
    partition serving, or the compacted one — never a window where the
    table silently serves without the partition. `recover_compaction`
    cleans/restores after a crash.

    Scratch naming: Spark/Hadoop's hidden-path filter only skips
    underscore-prefixed names that contain NO '=' — a dir literally
    named ``_compact_old_Date=2025-10-27`` would be picked up by
    partition inference as a bogus ``_compact_old_Date`` partition
    column (reading the stale copy as live data). The partition name
    is therefore URL-encoded into the scratch dir name ('=' -> '%3D'),
    which keeps the name underscore-hidden AND a lossless round-trip
    for recovery.

    NOTE: relies on POSIX atomic directory rename — correct on local
    FS/NFS/HDFS-style stores. On object stores (S3/GCS) "rename" is
    copy+delete and not atomic; there, compact through a table format
    with a transactional commit protocol instead (Delta/Iceberg
    OPTIMIZE is this exact operation).
    """
    import shutil

    # leftovers from a prior crashed compaction would make the renames
    # below fail (ENOTEMPTY on an existing _compact_old_*) after the tmp
    # rewrite was already paid — recover first, then compact
    recover_compaction(path)

    part_dir = os.path.join(path, partition)
    df = spark.read.parquet(part_dir)
    n = df.count()
    tmp = os.path.join(path, f"_compact_tmp_{_scratch_name(partition)}")
    old = os.path.join(path, f"_compact_old_{_scratch_name(partition)}")
    out = df.coalesce(target_files)
    if cluster_by and set(cluster_by) <= set(df.columns):
        out = out.sortWithinPartitions(*cluster_by)
    out.write.mode("overwrite").parquet(tmp)
    os.rename(part_dir, old)      # live dir aside (atomic)
    os.rename(tmp, part_dir)      # compacted into place (atomic)
    shutil.rmtree(old)            # point of no return — both copies existed until here
    return n


def _scratch_name(partition: str) -> str:
    """URL-encode a 'col=value' partition name for scratch-dir use: the
    result contains no '=', so the underscore-prefixed scratch dir is
    invisible to Spark/Hadoop listing AND partition inference."""
    from urllib.parse import quote

    return quote(partition, safe="")


def _scratch_decode(name: str) -> str:
    from urllib.parse import unquote

    return unquote(name)


def recover_compaction(path: str) -> dict[str, list[str]]:
    """Startup recovery for interrupted `compact_partition` runs.

    * `_compact_old_<part>` present and `<part>` missing -> the crash
      hit between the two renames: restore the original partition.
    * `_compact_old_<part>` present and `<part>` present -> the crash
      hit before the final cleanup: the compacted data is live, drop
      the old copy.
    * `_compact_tmp_<part>` -> incomplete compacted write: drop it.

    Returns {"restored": [...], "cleaned": [...]} partition names.
    """
    import shutil

    restored, cleaned = [], []
    if not os.path.isdir(path):
        return {"restored": restored, "cleaned": cleaned}
    entries = set(os.listdir(path))
    for name in sorted(entries):
        full = os.path.join(path, name)
        if name.startswith("_compact_tmp_"):
            shutil.rmtree(full, ignore_errors=True)
            cleaned.append(name)
        elif name.startswith("_compact_old_"):
            part = _scratch_decode(name[len("_compact_old_"):])
            if part in entries:
                shutil.rmtree(full, ignore_errors=True)
                cleaned.append(name)
            else:
                os.rename(full, os.path.join(path, part))
                restored.append(part)
    return {"restored": restored, "cleaned": cleaned}


def write_bucketed(df: DataFrame, table: str, path: str, key: str,
                   buckets: int = 8) -> None:
    """Persist a table bucketed (and sorted) by a join key.

    Bucketing pre-shuffles ONCE at write time: every future join or
    aggregation on ``key`` between tables bucketed with the same
    bucket count reads co-located buckets and skips the exchange
    entirely — at 100 TB this converts every recurring fact-to-fact
    join on the key from a full shuffle into a local zip of bucket
    files (`tests/test_bucketed_join.py` asserts the exchange-free
    plan). sortBy within buckets additionally enables sort-merge joins
    without the sort step.

    Spark ties bucket metadata to the catalog, hence saveAsTable with
    an explicit external path rather than a bare parquet write.
    """
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def format_for_export(df: DataFrame) -> DataFrame:
    """Sink-boundary formatting: DateType -> 'yyyy-MM-dd' strings and
    TimestampType Time -> 'HH:mm:ss' (F10, main.py:202-205). Internal
    plans keep true temporal types (SURVEY §7.4 trap 6).
    """
    out = df
    if "Date" in df.columns:
        out = out.withColumn("Date", F.date_format("Date", "yyyy-MM-dd"))
    if "Time" in df.columns:
        out = out.withColumn("Time", F.date_format("Time", "HH:mm:ss"))
    if "Expiry_Date" in df.columns:
        out = out.withColumn("Expiry_Date", F.date_format("Expiry_Date", "yyyy-MM-dd"))
    return out
