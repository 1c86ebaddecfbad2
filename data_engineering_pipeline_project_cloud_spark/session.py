"""SparkSession factory.

Plays the role the reference's connection factory plays
(``scripts/etl_utils.py:11-27`` builds a SQLAlchemy engine from env
vars); here the "engine" is a SparkSession tuned for the target scale.

Local-mode defaults are sized for the test harness (local[32],
single JVM).  On a real cluster the same factory is driven by
``spark-submit`` confs; everything set here is safe to override.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """The driver heap used when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    half the host's physical memory, at least 1g and at most 24g.  In
    local mode the driver JVM is the whole engine, and the other half
    is left to Python workers, off-heap buffers and the page cache; a
    fixed 24g would let the heap outgrow a small machine's RAM."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):  # no sysconf: keep 24g
        return "24g"
    mb = phys // 2 // (1024 * 1024)
    return f"{min(max(mb, 1024), 24 * 1024)}m"


def get_spark(app_name: str = "data_engineering_pipeline_project_cloud_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Scale notes (100 TB design):
      - AQE on: runtime partition coalescing, skew-join splitting, and
        plan re-optimization replace hand-tuned shuffle counts.
      - shuffle.partitions is only the *initial* number; AQE coalesces.
        At cluster scale set it ~2-3x total cores via submit conf.
      - UTC session timezone pins timestamp semantics to the oracle's.
      - Arrow enabled: pandas_udf paths move data in columnar batches.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # naive parquet timestamps read as TIMESTAMP (ltz), not NTZ:
        # watermarks require TIMESTAMP, and NTZ forbids the epoch cast
        # (timestamp → double).  Under a UTC session the two types carry
        # identical wall-clock values, so this only restores the round-1
        # type surface.  Runtime-settable; registry._scope re-pins it on
        # driver-owned sessions.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                                      default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
