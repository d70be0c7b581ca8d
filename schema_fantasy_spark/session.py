"""SparkSession factory with scale-oriented defaults.

Local harness runs on local[N]; the conf set here is what a cluster
submission would carry (AQE, skew-join handling, Arrow batching) so local
plans are representative of the 1000-executor plans.
"""

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
        # AQE: runtime coalescing, skew-join splitting — the cluster-scale
        # answer to stragglers from Zipf-skewed hosts (SURVEY.md §4.2)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for the few pandas-UDF slices; generous batch for throughput
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep scans partition-parallel at bench SFs
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
