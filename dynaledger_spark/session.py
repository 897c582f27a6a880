"""SparkSession factory.

One place to configure the engine. Defaults are tuned for the driver's
local[32] test box but every knob is chosen to also make sense on a large
cluster (AQE on, broadcast threshold explicit, UTC timezone pinned so
results are reproducible against any oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """A fifth of host RAM, at least 1 GB: in local mode the driver heap
    also holds every executor, and the rest of the host stays free for
    the Python workers and the OS page cache."""
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return f"{max(1024, ram_mb // 5)}m"


def get_spark(
    app_name: str = "dynaledger_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Scale posture: AQE handles runtime partition coalescing and skew
    joins, so `shuffle_partitions` is an upper bound, not a tuning
    burden; on a 1000-executor cluster raise it (or rely on
    `spark.sql.adaptive.coalescePartitions.initialPartitionNum`).
    The driver heap defaults to :func:`default_driver_memory`;
    ``SPARK_GRAFT_DRIVER_MEM`` overrides it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
        # Parquet TIMESTAMP(NANOS) is illegal for Spark's vectorized reader;
        # read as epoch-nanos long and convert at the source (catalog.read_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
