"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
confs apply unchanged (AQE, skew-join handling, Arrow). We pin the session
timezone to UTC so results are comparable with the DuckDB oracle (DuckDB
timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_CONF"]


def _default_driver_memory() -> str:
    """Half of physical memory, capped at 16g. 16g gives 32 task slots
    about 0.3g of execution memory each after the storage and reserved
    fractions; the other half of a smaller machine stays for the Python
    workers, the page cache and off-heap buffers, so the heap is pressed
    to collect before the kernel runs out of memory."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 << 10, total // 2 >> 20)}m"


# Confs chosen for 100 TB-scale behavior, not just local runs:
#  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
#    and join-strategy demotion to broadcast when the built side turns out
#    small — this is what keeps a static plan viable at 1000 executors.
#  - Arrow on: every mapInPandas/pandas_udf enrichment stage transfers
#    columnar batches, not pickled rows.
#  - maxPartitionBytes 128m: parquet scan granularity that keeps one input
#    split ≈ one task without tiny-task overhead.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.shuffle.partitions": "auto-set-below",
    "spark.ui.enabled": "false",
    # local mode: driver JVM == the one executor, so the heap serves every
    # concurrent task slot; see _default_driver_memory
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
}


def _local_cpus() -> int:
    raw = os.environ.get("SPARK_GRAFT_CPUS", "")
    try:
        return max(1, int(raw))
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "restaurant-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to the local core count — at cluster scale
    AQE's coalescePartitions re-sizes post-shuffle partitions at runtime, so
    the static number only needs to be an upper bound on parallelism.
    """
    cpus = _local_cpus()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
