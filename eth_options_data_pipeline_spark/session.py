"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]`` but every default here is chosen for
the 1000-executor / 100 TB posture: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (vectorized Python
interchange for the few Pandas-UDF operators), and shuffle partitions
sized to the local core count (on a real cluster AQE's coalescing
makes the initial number far less sensitive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "eth-options-pipeline-spark", master: str | None = None,
              shuffle_partitions: int | None = None, extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters are environment-overridable so the driver's bench can
    steer core counts without code changes:
      - ``SPARK_GRAFT_CPUS``  -> local[N] master + shuffle partitions
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    # Reuse an existing session UNTOUCHED. builder.getOrCreate() with
    # configs set "applies the non-static options to the existing
    # session" — so a library-internal get_spark() (the CLI, a face
    # helper) called inside a host process would silently rewrite the
    # HOST's spark.sql.shuffle.partitions to this function's default
    # (r15: the test suite's pinned 8 became 32 after the CLI test ran,
    # which re-planned every later shuffled join at 32 — Catalyst
    # raises a user repartition(n, key) under a join to
    # max(n, spark.sql.shuffle.partitions)). The session an embedding
    # process built is ITS configuration decision; a second get_spark
    # only fetches it.
    # getActiveSession() is thread-scoped (JVM InheritableThreadLocal):
    # a call from a fresh thread sees None even when the process holds
    # a live session, and falling through to the config-applying
    # builder would mutate THAT session's confs — the exact
    # contamination the reuse check exists to prevent (ADVICE r15).
    # _instantiatedSession is the process-wide default-session handle
    # (PySpark exposes no public getDefaultSession); consult both, and
    # skip a stopped leftover so a deliberate stop()+get_spark() cycle
    # still builds fresh.
    active = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    # sc.stop() nulls _jsc without clearing _instantiatedSession, so a
    # leftover can be stopped in TWO shapes: _jsc None, or a live _jsc
    # whose context reports stopped (r16 review)
    if (active is not None and active.sparkContext._jsc is not None
            and not active.sparkContext._jsc.sc().isStopped()):
        return active

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- optimizer / runtime ------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # -- Python interchange (Pandas UDF hot paths) --------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- scan sizing: at 100 TB this bounds per-task input ------
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # -- scan split floor: default = defaultParallelism, which
        #    pads SMALL scans with empty byte-range splits (a parquet
        #    row group is read whole by one split, so a 1-row-group
        #    file under local[32] scheduled 31 empty tasks per scan
        #    stage — pure scheduler overhead, measured 3-7% per
        #    map-shaped face at sf0.1, r16). Scale-neutral: real
        #    corpora exceed maxPartitionBytes and split by bytes, so
        #    the floor never binds there; parallelism for small local
        #    inputs is restored by sources.spread_small_input's
        #    explicit exchange.
        .config("spark.sql.files.minPartitionNum", "1")
        # -- runtime bloom-filter join pruning: builds a bloom of the
        #    selective (filtered-dim) join side and pushes it into the
        #    fact scan. Self-gated: only activates when the application
        #    side exceeds ~10 GiB and the creation side is under
        #    ~10 MiB, so it is inert on local testdata and kicks in
        #    exactly at the dim-join-on-huge-fact shape this engine
        #    targets at scale
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # -- timestamps: keep parquet round-trips exact -------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # -- quieter local runs -------------------------------------
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
