"""SparkSession factory tuned for this engine.

Local-mode defaults come from the host: ``local[<usable cores>]`` and a
driver heap of half the physical RAM, capped at 24g (one JVM holds every
executor thread).  ``SPARK_GRAFT_CPUS`` and ``CCSPARK_DRIVER_MEM``
override them.  ``SQL_CONFS`` are the fixed SQL settings the package
relies on; ``scripts/submit_job.py`` applies the same mapping to a
spark-submit session, where master and memory come from the cluster
manager.  AQE is on so skewed shuffles (giant domains) are split at
runtime; shuffle partitions sized to cores rather than the 200 default.

``get_spark`` also starts the Python workers from ``ccspark.daemon``
(``spark.python.daemon.module``), which imports pyspark compiled rather
than from the bytecode-free ``pyspark.zip`` (see ``ccspark._zipstat``),
unless the launch conf (``PYSPARK_SUBMIT_ARGS``, ``spark-defaults.conf``)
already names a daemon module.  So that the workers can import
ccspark from any working directory, it appends the directory holding
the ``ccspark`` package (or its zip) to ``spark.executorEnv.PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

DRIVER_MEM_CAP_GB = 24
DAEMON_MODULE = "spark.python.daemon.module"
WORKER_PATH = "spark.executorEnv.PYTHONPATH"

SQL_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # skew.cap_per_key needs the partial WindowGroupLimit, planned only
    # for limits up to this (default 1000); 100000 is the largest
    # default cap (chunker.DEFAULT_MAX_ROWS_PER_DOMAIN)
    "spark.sql.optimizer.windowGroupLimitThreshold": "100000",
}


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
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": app,
        "spark.driver.memory": driver_mem,
        "spark.ui.enabled": "false",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        **SQL_CONFS,
    }
    if SparkContext._gateway is None:
        # the JVM starts here, with these confs on its command line (so
        # the driver heap is set)
        SparkContext._ensure_initialized(
            conf=SparkConf().setAll(conf.items()))
    launch = SparkConf()    # the confs the JVM was started with
    if not launch.contains(DAEMON_MODULE):
        conf[DAEMON_MODULE] = "ccspark.daemon"
    # the directory holding the ccspark package (or its zip), after the
    # caller's entries
    conf[WORKER_PATH] = os.pathsep.join(p for p in (
        launch.get(WORKER_PATH),
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))) if p)
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
