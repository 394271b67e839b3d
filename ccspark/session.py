"""SparkSession factory tuned for this engine.

Local-mode defaults come from the host: ``local[<usable cores>]`` and a
driver heap of half the physical RAM, capped at 24g (one JVM holds every
executor thread).  ``SPARK_GRAFT_CPUS`` and ``CCSPARK_DRIVER_MEM``
override them.  The same configs are what we'd submit to a real cluster
via spark-submit --py-files, minus master/memory which come from the
cluster manager.  AQE is on so skewed shuffles (giant domains) are split
at runtime; shuffle partitions sized to cores rather than the 200
default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


DRIVER_MEM_CAP_GB = 24


def host_defaults(env, usable_cores: int,
                  phys_bytes: int) -> tuple[int, str]:
    """(cores, driver memory) for ``get_spark``: the env overrides in
    *env* when set, else *usable_cores* and half of *phys_bytes* in
    whole GB (at least 1g, at most DRIVER_MEM_CAP_GB)."""
    cores = int(env.get("SPARK_GRAFT_CPUS") or usable_cores)
    half_gb = min(max(phys_bytes // 2 // 2**30, 1), DRIVER_MEM_CAP_GB)
    return cores, env.get("CCSPARK_DRIVER_MEM") or f"{half_gb}g"


def _usable_cores() -> int:
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(app: str = "ccspark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    default_cores, driver_mem = host_defaults(
        os.environ, _usable_cores(),
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    cores = cores or default_cores
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # skew.cap_per_key needs the partial WindowGroupLimit, planned
        # only for limits up to this (default 1000); 100000 is the
        # largest default cap (chunker.DEFAULT_MAX_ROWS_PER_DOMAIN)
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "100000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
