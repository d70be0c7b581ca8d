"""Iceberg table access, gated behind runtime availability.

The production deployment (BASELINE.json) reads Iceberg tables of
Common-Crawl pages partitioned by days(warc_ts) + host bucket; snapshots
power incremental validation and cross-snapshot referential checks. This
container ships no iceberg-spark-runtime jar, so every entry point probes
availability and raises a clear error (tests and the local harness use
parquet through the same call sites via ``read_pages``).

Cluster usage (documented for the spark-submit deployment):
    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.cc=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.cc.type=hive \
      --py-files dist/schema_fantasy_spark.zip jobs/validate_job.py \
      --input cc.web.pages --snapshot-id <id>
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession


class IcebergUnavailableError(RuntimeError):
    pass


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def read_table(
    spark: SparkSession,
    identifier: str,
    snapshot_id: Optional[int] = None,
) -> DataFrame:
    """Read an Iceberg table, optionally time-traveled to a snapshot —
    the source of the 'base' side in cross-snapshot referential/drift
    checks (SURVEY.md §2.5)."""
    if not iceberg_available(spark):
        raise IcebergUnavailableError(
            "iceberg-spark-runtime not on the classpath; use read_pages() "
            "with a parquet path for the local harness"
        )
    reader = spark.read.format("iceberg")
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", str(snapshot_id))
    return reader.load(identifier)


def read_incremental(
    spark: SparkSession,
    identifier: str,
    start_snapshot_id: int,
    end_snapshot_id: Optional[int] = None,
) -> DataFrame:
    """Incremental append-scan between snapshots — the batch-incremental
    story (validate only rows added since the last validated snapshot)."""
    if not iceberg_available(spark):
        raise IcebergUnavailableError("iceberg-spark-runtime not on the classpath")
    reader = (
        spark.read.format("iceberg")
        .option("start-snapshot-id", str(start_snapshot_id))
    )
    if end_snapshot_id is not None:
        reader = reader.option("end-snapshot-id", str(end_snapshot_id))
    return reader.load(identifier)


def read_pages(
    spark: SparkSession,
    location: str,
    snapshot_id: Optional[int] = None,
    from_snapshot_id: Optional[int] = None,
    partition_filter: Optional[dict] = None,
) -> DataFrame:
    """Unified entry: an Iceberg identifier (catalog.db.table) when the
    runtime jar is present; a jar-free iceberg_lite TABLE DIRECTORY
    (contains metadata/*.metadata.json) with optional time travel
    (``snapshot_id``), incremental delta (``from_snapshot_id`` ->
    snapshot_id/current) and PARTITION PRUNING (``partition_filter``,
    {name: value} / {name: (lo, hi)} — iceberg_lite prunes from the
    manifests, never opening pruned files); else a plain parquet path.
    On the catalog path a partition filter is a normal ``.where`` on
    the partition column — Spark+Iceberg prune automatically — so this
    argument is the LITE path's equivalent and raises if passed where
    it would silently not prune. All engine call sites go through here
    so the swap is one config change."""
    looks_like_table = "/" not in location and "." in location
    if looks_like_table and iceberg_available(spark):
        if partition_filter:
            raise IcebergUnavailableError(
                "partition_filter is the jar-free iceberg_lite mechanism; "
                "catalog tables prune via a .where on the partition column"
            )
        if from_snapshot_id is not None:
            return read_incremental(spark, location, from_snapshot_id, snapshot_id)
        return read_table(spark, location, snapshot_id=snapshot_id)
    import glob as _glob
    import os as _os

    if _glob.glob(_os.path.join(location, "metadata", "*.metadata.json")):
        from schema_fantasy_spark.sources import iceberg_lite as il

        if from_snapshot_id is not None:
            to = snapshot_id
            if to is None:
                md = il.table_metadata(location)
                to = il._resolve_snapshot(md)["snapshot-id"]
            return il.read_incremental(spark, location, from_snapshot_id, to,
                                       partition_filter=partition_filter)
        return il.read_snapshot(spark, location, snapshot_id=snapshot_id,
                                partition_filter=partition_filter)
    if partition_filter:
        raise IcebergUnavailableError(
            "partition_filter requires an iceberg_lite table directory"
        )
    return spark.read.parquet(location)
