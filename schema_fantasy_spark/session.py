"""SparkSession factory for local runs on local[N]."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "schema-fantasy-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """A local session on ``cores`` cores: by default ``SPARK_GRAFT_CPUS``,
    else the CPUs this process may run on."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # AQE, partition coalescing and skew-join handling are Spark's
        # defaults, and the engine relies on them
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
