"""Resume-from-manifest (kill after K partitions, rerun, zero recompute,
identical output — SURVEY.md §5.2 tier 3) and the verdict rollup that
every consumer shares."""

import os

import pyspark.sql.functions as F
import pytest

from schema_fantasy_spark.engine import ValidationEngine, verdict_rollup
from schema_fantasy_spark.manifest import (
    NULL_PARTITION, PartitionManifest, ResumableValidationRun,
)
from schema_fantasy_spark.scale import host_of
from schema_fantasy_spark.sources.pages import PAGES_SCHEMA, pages
from schema_fantasy_spark.suite import CheckSuite


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


def test_null_partition_is_validated_and_resumed(spark, tmp_path):
    """Rows whose partition value is NULL form one partition, keyed as
    Spark's partitionBy names a NULL directory: the run validates them,
    writes their violations and skips them on a rerun."""
    df = pages(spark, 300, n_days=3).withColumn(
        "warc_ts", F.when(F.col("id") % 50 == 29, None).otherwise(F.col("warc_ts"))
    ).withColumn("day", F.to_date("warc_ts"))
    eng = ValidationEngine(PAGES_SCHEMA)
    mdir, vdir = str(tmp_path / "m"), str(tmp_path / "v")
    run = ResumableValidationRun(eng, mdir, "day", violations_dir=vdir, id_cols=("id",))
    result = run.run(df)
    assert NULL_PARTITION in result.processed
    totals = eng.apply(df).agg(*verdict_rollup()).collect()[0].asDict()
    assert {k: result.summary[k] for k in totals} == totals
    null_ids = {r["id"] for r in df.filter(F.col("day").isNull()).collect()}
    assert len(null_ids) == 6
    written = spark.read.parquet(os.path.join(vdir, f"part={NULL_PARTITION}"))
    assert {r["id"] for r in written.collect()} == null_ids  # all lack warc_ts
    rerun = run.run(df)
    assert rerun.processed == [] and NULL_PARTITION in rerun.skipped


def test_partition_keys_that_differ_only_in_punctuation_stay_apart(spark, tmp_path):
    """Partition values such as "a b" and "a_b" keep their own manifest
    entries and their own violations directories."""
    m = PartitionManifest(str(tmp_path / "marks"))
    m.mark("a b", {"n_rows": 1})
    m.mark("a_b", {"n_rows": 2})
    assert {k: e["n_rows"] for k, e in m.completed().items()} == {"a b": 1, "a_b": 2}

    values = ["a b", "a_b", "a/b", "a:b", "a%20b"]
    df = pages(spark, 300).withColumn(
        "part", F.element_at(F.array(*map(F.lit, values)), (F.col("id") % 5 + 1).cast("int"))
    )
    mdir, vdir = str(tmp_path / "m"), str(tmp_path / "v")
    run = ResumableValidationRun(ValidationEngine(PAGES_SCHEMA), mdir, "part",
                                 violations_dir=vdir, id_cols=("id",))
    result = run.run(df)
    assert sorted(result.processed) == sorted(values)
    assert result.summary["n_partitions"] == 5 and result.summary["n_rows"] == 300
    assert len(os.listdir(vdir)) == 5
    written = spark.read.parquet(vdir)  # partition discovery decodes part=
    expected = ValidationEngine.violations(
        ValidationEngine(PAGES_SCHEMA).apply(df), ["id", "part"])
    assert sorted(written.select("id", "part").distinct().collect()) == sorted(
        expected.select("id", "part").distinct().collect())
    assert run.run(df).processed == []


def test_manifest_atomic_entries(spark, tmp_path):
    m = PartitionManifest(str(tmp_path / "m"))
    m.mark("2026-01-01", {"n_rows": 10, "n_invalid": 0, "pass": True})
    m.mark("2026-01-01", {"n_rows": 11, "n_invalid": 1, "pass": False})  # idempotent overwrite
    done = m.completed()
    assert done["2026-01-01"]["n_rows"] == 11
    s = m.summary()
    assert s["n_partitions"] == 1 and not s["all_pass"]


def test_manifest_uri_reaches_its_file_system(spark, tmp_path, monkeypatch):
    """A ``file://`` manifest URI is stored where it names, not under a
    relative ``file:`` directory of the working directory: a rerun from
    another directory skips every partition, and a torn entry does not
    parse, so its partition runs again."""
    df = _day_pages(spark, 300)
    eng = ValidationEngine(PAGES_SCHEMA)
    for d in ("a", "b"):
        (tmp_path / d).mkdir()
    uri = f"file://{tmp_path}/m"
    monkeypatch.chdir(tmp_path / "a")
    first = ResumableValidationRun(eng, uri, "day", id_cols=("id",)).run(df)
    names = sorted(n for n in os.listdir(tmp_path / "m") if n.endswith(".json"))
    assert len(names) == len(first.processed) == 7
    assert os.listdir(tmp_path / "a") == []

    monkeypatch.chdir(tmp_path / "b")
    run = ResumableValidationRun(eng, uri, "day", id_cols=("id",))
    rerun = run.run(df)
    assert rerun.processed == [] and sorted(rerun.skipped) == sorted(first.processed)
    torn = tmp_path / "m" / names[0]
    torn.write_text(torn.read_text()[:20])
    again = run.run(df)
    assert [f"{p}.json" for p in again.processed] == names[:1]
    assert again.summary == first.summary
    assert os.listdir(tmp_path / "b") == []


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


def test_every_verdict_consumer_sums_the_same_rollup(spark, tmp_path):
    """partition_verdicts per day and per host, the resumable run's summary (both metric paths) and CheckSuite's schema
    check report the same totals as a plain aggregate of the validated
    frame. The suite reports n_rows and n_invalid only."""
    df = _day_pages(spark, 2000)
    validated = ValidationEngine(PAGES_SCHEMA).apply(df)
    totals = validated.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~F.col("verdict")).cast("long")).alias("n_invalid"),
        F.sum(F.size("errors")).alias("n_errors"),
    ).collect()[0].asDict()
    assert 0 < totals["n_invalid"] <= totals["n_errors"]

    def summed(frame):
        rows = frame.collect()
        return {k: sum(r[k] for r in rows) for k in totals}

    assert summed(ValidationEngine.partition_verdicts(validated, ["day"])) == totals
    by_host = validated.withColumn("host", host_of(F.col("url")))
    assert summed(ValidationEngine.partition_verdicts(by_host, ["host"])) == totals
    for i, vdir in enumerate((None, str(tmp_path / "v"))):
        run = ResumableValidationRun(ValidationEngine(PAGES_SCHEMA), str(tmp_path / f"m{i}"),
                                     "day", violations_dir=vdir, id_cols=("id",))
        summary = run.run(df).summary
        assert {k: summary[k] for k in totals} == totals
    schema = CheckSuite(PAGES_SCHEMA, id_cols=("id",)).run(df).results[0]
    assert schema.check == "schema"
    assert schema.detail.startswith(f"{totals['n_invalid']}/{totals['n_rows']} invalid rows")


def test_verdict_rollup_is_zero_on_empty_input(spark):
    empty = ValidationEngine(PAGES_SCHEMA).apply(pages(spark, 10).limit(0))
    assert empty.agg(*verdict_rollup()).collect()[0].asDict() == {
        "n_rows": 0, "n_invalid": 0, "n_errors": 0}
    schema = CheckSuite(PAGES_SCHEMA).run(pages(spark, 10).limit(0)).results[0]
    assert schema.passed and schema.metric == 0.0
    assert schema.detail.startswith("0/0 invalid rows")
