"""SparkSession factory tuned for this engine.

Conventions that every operator in this package relies on:

- ``spark.sql.session.timeZone = UTC``: timestamps are stored and compared
  as UTC instants; store-timezone rendering happens only at the pandas edge
  (mirrors the reference's STORE_TZ contract,
  reference: hostore/models/chunk_timeserie_store.py:196).
- AQE on: runtime coalescing of shuffle partitions and skew-join handling,
  which matters at the 100 TB target scale.
- Arrow on: the pandas edge (toPandas / applyInPandas / mapInPandas) moves
  columnar batches, not rows.
- DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled = false``): pyspark's
  capture walks the Python stack and makes three extra py4j calls on
  every DataFrame/Column API call, so analysis errors now carry no Python
  call site and building a plan costs a third of the py4j calls. A
  session made outside :func:`get_spark` keeps pyspark's default (on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "holcstore-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's conventions.

    Local default: ``local[$SPARK_GRAFT_CPUS]`` (env, default all cores) and
    ``spark.sql.shuffle.partitions`` sized to the core count — on a real
    cluster callers pass their own master/conf and AQE right-sizes shuffles.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus) if cpus != "*" else (os.cpu_count() or 8)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §9/§3.1: let the planner pick shuffled-hash join when its
        # size conditions are met — removes both sort passes of a
        # sort-merge join. Size-conditioned, not forced: SMJ remains the
        # fallback when a build side could not fit (the planner decides
        # per join from stats, AQE can still re-plan at runtime). At the
        # local bench SF every join is broadcast so this is plan-neutral
        # there; where SMJs exist it rewrites them (hybrid_search:
        # SortMergeJoin 2 -> ShuffledHashJoin 2, plans/r17) with
        # identical results (full-registry oracle sweeps green under it).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # local-mode localCheckpoint ships block data through task results;
        # the 1g default kills large ingests
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.ui.enabled", "false")
        # pyspark reads this flag once per process, on the first API call
        # with an active session, so the builder must set it; a caller who
        # wants call sites in errors passes "true" back in extra_conf
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Shuffle/scratch files on tmpfs when available: on this VM the backing
    # disk's write throughput swings ~4x run-to-run, and shuffle spill files
    # are transient by definition. Cluster analogue: fast local NVMe for
    # spark.local.dir, never the durable data volume. Store parquet stays
    # wherever the caller puts it — only Spark-internal scratch moves.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-scratch"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_engine_conf(spark: SparkSession) -> None:
    """Enforce the session config store correctness depends on: a non-UTC
    session time zone skews the instant arithmetic. It is a
    runtime-settable SQL conf, so the store constructors set it rather
    than failing: sessions built by :func:`get_spark` already comply and
    are untouched.
    """
    import warnings

    tz = spark.conf.get("spark.sql.session.timeZone", None)
    if tz != "UTC":
        warnings.warn(
            f"holcstore_spark requires spark.sql.session.timeZone=UTC; "
            f"overriding session value {tz!r}"
        )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
