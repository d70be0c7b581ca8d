"""Resume-from-manifest (kill after K partitions, rerun, zero recompute,
identical output — SURVEY.md §5.2 tier 3) and Structured Streaming
validation tests."""

import json
import os
import time

import pyspark.sql.functions as F
import pytest

from schema_fantasy_spark import streaming as st
from schema_fantasy_spark.engine import ValidationEngine
from schema_fantasy_spark.manifest import PartitionManifest, ResumableValidationRun
from schema_fantasy_spark.sources.pages import PAGES_SCHEMA, pages


def _day_pages(spark, n=3000):
    return pages(spark, n, n_days=6).withColumn("day", F.to_date("warc_ts"))


def test_resume_zero_recompute(spark, tmp_path):
    df = _day_pages(spark)
    eng = ValidationEngine(PAGES_SCHEMA)
    mdir = str(tmp_path / "manifest")
    vdir = str(tmp_path / "violations")
    run = ResumableValidationRun(eng, mdir, "day", violations_dir=vdir, id_cols=("id",))
    all_parts = run.partitions(df)
    assert len(all_parts) == 7  # 6 crawl days + the injected future-ts day

    # crash after 3 partitions
    with pytest.raises(RuntimeError, match="injected failure"):
        run.run(df, fail_after=3)
    done_after_crash = set(PartitionManifest(mdir).completed())
    assert len(done_after_crash) == 3

    # rerun: completed partitions are skipped, remaining 3 processed
    run2 = ResumableValidationRun(eng, mdir, "day", violations_dir=vdir, id_cols=("id",))
    result = run2.run(df)
    assert sorted(result.skipped) == sorted(done_after_crash)
    assert len(result.processed) == 4
    assert set(result.processed) | done_after_crash == set(all_parts)

    # third run: nothing to do at all
    result3 = run2.run(df)
    assert result3.processed == []
    assert len(result3.skipped) == 7

    # manifest totals == single-shot totals
    validated = eng.apply(df)
    direct = validated.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~F.col("verdict")).cast("long")).alias("n_invalid"),
    ).collect()[0]
    assert result3.summary["n_rows"] == direct["n_rows"]
    assert result3.summary["n_invalid"] == direct["n_invalid"]

    # violation outputs identical to single-shot violations
    viol_direct = {
        (r["id"], r["keyword"])
        for r in ValidationEngine.violations(validated, ["id"]).collect()
    }
    viol_manifest = {
        (r["id"], r["keyword"])
        for r in spark.read.parquet(f"{vdir}/part=*").collect()
    }
    assert viol_manifest == viol_direct


def test_manifest_atomic_entries(tmp_path):
    m = PartitionManifest(str(tmp_path / "m"))
    m.mark("2026-01-01", {"n_rows": 10, "n_invalid": 0, "pass": True})
    m.mark("2026-01-01", {"n_rows": 11, "n_invalid": 1, "pass": False})  # idempotent overwrite
    done = m.completed()
    assert done["2026-01-01"]["n_rows"] == 11
    s = m.summary()
    assert s["n_partitions"] == 1 and not s["all_pass"]


def test_streaming_validation(spark, tmp_path):
    # file-source stream over a parquet snapshot; availableNow drains it
    src = str(tmp_path / "src")
    pages(spark, 2000).write.parquet(src)
    batch_schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(batch_schema).parquet(src)
    validated = ValidationEngine(PAGES_SCHEMA).apply(stream)
    assert validated.isStreaming

    metrics = []
    q = st.write_validated(
        validated,
        violations_path=str(tmp_path / "viol"),
        checkpoint_path=str(tmp_path / "ckpt"),
        id_cols=("id",),
        on_batch=lambda bid, m: metrics.append(m),
    )
    q.awaitTermination(120)
    assert metrics and sum(m["n_rows"] for m in metrics) == 2000

    # streamed violations == batch violations
    batch_viol = ValidationEngine.violations(
        ValidationEngine(PAGES_SCHEMA).apply(spark.read.parquet(src)), ["id"]
    )
    got = {(r["id"], r["keyword"]) for r in spark.read.parquet(str(tmp_path / "viol")).collect()}
    want = {(r["id"], r["keyword"]) for r in batch_viol.collect()}
    assert got == want

    # restart with same checkpoint: nothing re-processed
    metrics2 = []
    q2 = st.write_validated(
        validated,
        violations_path=str(tmp_path / "viol"),
        checkpoint_path=str(tmp_path / "ckpt"),
        id_cols=("id",),
        on_batch=lambda bid, m: metrics2.append(m),
    )
    q2.awaitTermination(120)
    assert sum(m["n_rows"] for m in metrics2) == 0


def test_windowed_verdicts_shape(spark):
    # windowed aggregation plan compiles on a stream (no execution needed
    # beyond schema analysis) and on the equivalent batch frame
    df = pages(spark, 1000)
    batch = st.windowed_verdicts(ValidationEngine(PAGES_SCHEMA).apply(df))
    rows = batch.collect()
    assert rows and all(r["n_rows"] > 0 for r in rows)
    assert {c for c in batch.columns} == {
        "window_start", "window_end", "n_rows", "n_invalid", "n_errors", "pass"
    }

def test_resumable_run_is_one_job_per_partition(spark, tmp_path):
    """With violations_dir set, validate+write+metrics must be ONE Spark
    job per partition (metrics observed on the write), not a write pass
    plus a second metrics scan (round-1 verdict perf-weak #3)."""
    df = _day_pages(spark, 1200)
    eng = ValidationEngine(PAGES_SCHEMA)
    run = ResumableValidationRun(
        eng, str(tmp_path / "m"), "day",
        violations_dir=str(tmp_path / "v"), id_cols=("id",),
    )
    sc = spark.sparkContext
    counts = []
    sc.setJobGroup("manifest-one-pass", "per-partition job audit")
    try:
        result = run.run(
            df,
            on_partition=lambda p: counts.append(
                len(sc.statusTracker().getJobIdsForGroup("manifest-one-pass"))
            ),
        )
    finally:
        sc.setJobGroup(None, None)
    # the partition listing (AQE may split it) runs before the first
    # partition; after that, each partition must add EXACTLY one job
    deltas = [b - a for a, b in zip(counts, counts[1:])]
    assert deltas == [1] * (len(counts) - 1), (counts, deltas)
    assert result.summary["n_rows"] == 1200
