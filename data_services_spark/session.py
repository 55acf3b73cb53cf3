"""SparkSession factory tuned for this engine.

Local mode is the test/bench harness; the configs are chosen so the same
code runs unchanged on a multi-executor cluster via ``spark-submit
--py-files`` (AQE on, explicit shuffle partitioning, Arrow enabled,
UTC session timezone so results compare bit-for-bit against a DuckDB
oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "data_services_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` controls local parallelism (``local[cpus]``); on a real
    cluster the master/executors come from spark-submit and this arg is
    ignored by Spark. ``shuffle_partitions`` defaults to 2x cores locally
    — at cluster scale set it to ~2-3x total executor cores, or rely on
    AQE coalescing which is enabled here.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle = shuffle_partitions or max(8, cpus * 2)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 16MB advisory (vs 64MB default): AQE coalescing at 64MB folds a
        # chunk's shuffle into ~3 waves of tasks per executor core — the
        # last-wave tail idles cores. Measured +15% replay throughput at
        # local[4]; on a big cluster tune with the executor count.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PART", "16MB"))
        # 32MB input splits (vs 128MB default): scan-stage wave granularity.
        # A 1.7GB chunk scan at 128MB is 14 map tasks — on a 4-core executor
        # that is 3.5 waves with a half-idle straggler tail holding the
        # stage. 32MB gives ~4x the tasks, so the tail costs 1/14th of a
        # wave instead of half of one (measured: 12M-event CDC replay at
        # pinned 4 cores 42.3s -> 34.6s, +22%). At 1000-executor scale
        # (plenty of waves regardless) raise this back toward 128MB to cap
        # the task count on 100TB inputs.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PART", "33554432"))
        # the lake's manifest names every file a read scans: list them on
        # the driver, not in Spark's distributed listing job that a read of
        # more than 32 paths (the default) starts first
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # snappy: ~2x faster writes than zstd locally (CPU-bound); flip to
        # zstd via env for storage-bound clusters where IO dominates
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("SPARK_GRAFT_CODEC", "snappy"))
        # INT64 micros (not legacy INT96): footer min/max stats stay usable,
        # which the lineage fast path reads instead of running stat jobs
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    # Only pin the master when NOT running under spark-submit — there the
    # JVM gateway already exists (PYSPARK_GATEWAY_PORT is set) and carries
    # the --master the operator chose (local-cluster, standalone, yarn, k8s);
    # overriding it here would silently degrade a cluster job to local mode.
    if "PYSPARK_GATEWAY_PORT" not in os.environ and not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    merged_conf = dict(extra_conf or {})
    # ad-hoc conf via env, e.g. SPARK_GRAFT_EXTRA_CONF="a.b=1;c.d=false"
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            merged_conf.setdefault(k.strip(), v.strip())
    for k, v in merged_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
