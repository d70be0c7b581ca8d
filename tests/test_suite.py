"""CheckSuite integration: the full validation bundle over the synthetic
pages table — all checks evaluate (no short-circuit), outcomes accumulate,
thresholds decide the suite verdict."""

import shutil

import pyspark.sql.functions as F

from schema_fantasy_spark import table_checks as tc
from schema_fantasy_spark.engine import ValidationEngine
from schema_fantasy_spark.sources.pages import (
    LANG_CUM, PAGES_SCHEMA, expected_violation_ids, pages, snapshot_pair,
)
from schema_fantasy_spark.suite import CheckSuite


def test_suite_accumulates_all_checks(spark):
    N = 3000
    df = pages(spark, N)
    exp = expected_violation_ids(N)
    base, _ = snapshot_pair(spark, N)
    lang_baseline = tc.group_histogram(base, "lang")

    suite = (
        CheckSuite(schema=PAGES_SCHEMA, id_cols=("id",))
        .with_max_invalid_rate(0.05)       # injected violations ~1.5% -> pass
        .with_null_rate("lang", 0.05)      # ~1% null lang -> pass
        .with_null_rate("text", 0.0001)    # injected NULL texts -> FAIL
        .with_bounds("warc_ts", maximum="2030-01-01")  # future ts -> FAIL
        .with_uniqueness(["url"])          # injected dups -> FAIL
        .with_categorical_drift("lang", lang_baseline, max_chi_square=50.0)  # self -> pass
    )
    report = suite.run(df)
    by_name = {r.check: r for r in report.results}

    assert not report.passed  # at least one failing check
    assert by_name["schema"].passed
    assert by_name["null_rate(lang)"].passed
    assert not by_name["null_rate(text)"].passed
    assert not by_name["bounds(warc_ts)"].passed
    assert not by_name["unique(url)"].passed
    assert by_name["unique(url)"].metric == len(exp["dup_url"])
    assert by_name["chi_square_drift(lang)"].passed
    # ALL checks ran despite failures (applicative accumulation, not
    # fail-fast): one result per registered check + the schema check
    assert len(report.results) == 6

    # violation rows available alongside
    viol_keywords = {r["keyword"] for r in report.violations.collect()}
    assert {"pattern", "enum", "required", "maximum", "minLength"} <= viol_keywords

    # results frame shape
    rdf = report.to_df(spark)
    assert rdf.columns == ["check", "scope", "pass", "metric", "detail"]
    assert rdf.count() == 6


def test_suite_without_schema(spark):
    df = pages(spark, 1000)
    report = CheckSuite().with_uniqueness(["id"]).run(df)
    assert report.passed and report.violations is None


def test_suite_referential(spark):
    base, nxt = snapshot_pair(spark, 2000)
    report = (
        CheckSuite()
        .with_referential(nxt.select("url"), "url")
        .run(base)
    )
    r = report.results[0]
    assert not r.passed and r.metric == len(range(0, 2000, 211))


def test_suite_algebraic_checks_fold_into_one_job(spark):
    """schema + N null-rate/bounds checks must execute as ONE Spark job
    (one scan, one aggregation with map-side partials) — not one job per
    check (round-1 verdict: serial per-check scans are a 100 TB killer)."""
    df = pages(spark, 2000)
    suite = (
        CheckSuite(schema=PAGES_SCHEMA, id_cols=("id",))
        .with_max_invalid_rate(0.05)
        .with_null_rate("lang", 0.05)
        .with_null_rate("text", 0.5)
        .with_bounds("warc_ts", maximum="2030-01-01")
    )
    baseline = CheckSuite(schema=PAGES_SCHEMA, id_cols=("id",)).with_max_invalid_rate(0.05)

    def jobs_for(s, group):
        sc = spark.sparkContext
        sc.setJobGroup(group, "suite job-count audit")
        try:
            return s.run(df), len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(None, None)

    _, n_schema_only = jobs_for(baseline, "suite-schema-only")
    report, n_with_checks = jobs_for(suite, "suite-with-checks")
    # AQE may split one aggregation into several jobs, but adding
    # algebraic checks must not add ANY: they ride the same aggregation
    assert n_with_checks == n_schema_only, (n_schema_only, n_with_checks)
    assert len(report.results) == 4


def test_report_violations_read_the_suite_materialization(spark, tmp_path):
    """Writing ``report.violations`` after ``run`` reads the validation the
    suite materialized: the source files are deleted first, so a rescan
    of the source would fail."""
    src = str(tmp_path / "pages")
    pages(spark, 2000).write.parquet(src)
    df = spark.read.parquet(src)
    n_errors = ValidationEngine(PAGES_SCHEMA).apply(df).select(
        F.sum(F.size("errors"))).collect()[0][0]
    report = (CheckSuite(schema=PAGES_SCHEMA, id_cols=("id",))
              .with_null_rate("lang", 0.05).with_uniqueness(["url"]).run(df))
    shutil.rmtree(src)
    out = str(tmp_path / "violations")
    report.violations.write.parquet(out)
    assert n_errors > 0
    assert spark.read.parquet(out).count() == n_errors


def _rdd_storage(sc):
    return {i.id(): i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()}


def test_suite_keeps_only_the_violation_rows(spark, tmp_path):
    """The executor storage a run adds holds its violation rows, not a copy
    of the validated table: it stays below the bytes of the input's
    ``text`` column alone."""
    src = str(tmp_path / "pages")
    pages(spark, 4000).write.parquet(src)
    df = spark.read.parquet(src)
    text_bytes = df.agg(F.sum(F.octet_length("text"))).collect()[0][0]
    sc = spark.sparkContext
    before = _rdd_storage(sc)
    report = (CheckSuite(PAGES_SCHEMA, id_cols=("id",))
              .with_null_rate("lang", 0.05).with_uniqueness(["url"]).run(df))
    added = sum(n for rdd, n in _rdd_storage(sc).items() if rdd not in before)
    assert report.violations.count() > 0
    assert 0 < added < text_bytes, (added, text_bytes)


def test_drift_on_an_empty_side_is_null_and_fails(spark):
    """An empty histogram side gives a NULL statistic and a non-negative
    dof, never an error; the suite's drift check then fails and names the
    empty side."""
    df = pages(spark, 500)
    hist = tc.group_histogram(df, "lang")
    empty = hist.limit(0)
    for cur, base in ((empty, hist), (hist, empty), (empty, empty)):
        chi = tc.chi_square_stat(cur, base).collect()[0]
        assert chi["chi_square"] is None and chi["dof"] >= 0
        assert tc.ks_stat(cur, base).collect()[0]["ks_stat"] is None
    assert tc.chi_square_stat(empty, hist).collect()[0]["dof"] == hist.count() - 1

    def drift(frame, baseline):
        report = CheckSuite().with_categorical_drift("lang", baseline, 1e9).run(frame)
        return report.results[0]

    for frame, baseline, side in ((df.limit(0), hist, "current"), (df, empty, "baseline")):
        r = drift(frame, baseline)
        assert not r.passed and r.metric is None
        assert r.detail.startswith(f"{side} histogram is empty"), r.detail
    assert drift(df, hist).passed


def test_schema_check_statuses(spark):
    """Metadata-level schema validation: ok / type_changed / missing /
    unexpected, with no scan of the data."""
    from schema_fantasy_spark import table_checks as tc

    df = spark.createDataFrame([(1, "x", 0.5)], "a: long, b: string, c: double")
    out = {r["col_name"]: r for r in tc.schema_check(df, {
        "a": "bigint", "b": "int", "d": "string",
    }).collect()}
    assert out["a"]["status"] == "ok"
    assert out["b"]["status"] == "type_changed" and out["b"]["actual_type"] == "string"
    assert out["d"]["status"] == "missing" and out["d"]["actual_type"] is None
    assert out["c"]["status"] == "unexpected" and out["c"]["expected_type"] is None
    assert len(out) == 4
