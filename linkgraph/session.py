"""SparkSession factory with configs pinned for the engine.

Local-mode testing runs on ``local[N]``; the same configs (AQE, Arrow,
explicit shuffle partitioning, UTC) are what we would submit with
``spark-submit --py-files`` on a real cluster.  Shuffle partitions are
pinned per session (and per superstep via ``repartition(P, key)`` inside the
algorithms) rather than left at the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """A quarter of the box's physical memory (``/proc/meminfo``)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) // 4096}m"
    raise RuntimeError("MemTotal not in /proc/meminfo")


def get_spark(
    app_name: str = "linkgraph",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession pinned for deterministic local runs.

    ``shuffle_partitions`` defaults to the core count: on a real cluster this
    would be ~2-3x total executor cores; the algorithms additionally pin
    their per-superstep partitioning explicitly so the plan does not depend
    on this global.  ``driver_memory`` defaults to the box's share
    (:func:`default_driver_memory`).
    """
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
