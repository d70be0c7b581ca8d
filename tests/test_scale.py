"""Skew machinery tests: salted two-phase aggregation must be EXACTLY
equivalent to the plain groupBy, and per-host verdicts must match the
unsalted computation on the Zipf-skewed pages table."""

import pyspark.sql.functions as F

from schema_fantasy_spark import scale
from schema_fantasy_spark.engine import ValidationEngine
from schema_fantasy_spark.sources.pages import PAGES_SCHEMA, pages


def test_salted_count_exact(spark):
    df = pages(spark, 5000)
    plain = {
        r["host"]: r["n"]
        for r in df.groupBy(scale.host_of(F.col("url")).alias("host"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        r["host"]: r["n"]
        for r in scale.salted_count(
            df.withColumn("host", scale.host_of(F.col("url"))),
            ["host"],
            F.col("url"),
            buckets=16,
        ).collect()
    }
    assert salted == plain


def test_salted_agg_exact(spark):
    df = pages(spark, 3000).withColumn("host", scale.host_of(F.col("url")))
    plain = {
        r["host"]: (r["n"], r["mx"], r["mn"])
        for r in df.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.length("text")).alias("mx"),
            F.min(F.length("text")).alias("mn"),
        )
        .collect()
    }
    salted = {
        r["host"]: (r["n"], r["mx"], r["mn"])
        for r in scale.salted_agg(
            df,
            ["host"],
            F.col("url"),
            {
                "n": (F.lit(1), "count"),
                "mx": (F.length("text"), "max"),
                "mn": (F.length("text"), "min"),
            },
            buckets=8,
        ).collect()
    }
    assert salted == plain


def test_per_host_verdicts_matches_plain(spark):
    validated = ValidationEngine(PAGES_SCHEMA).apply(pages(spark, 4000))
    plain = {
        r["host"]: (r["n_rows"], r["n_invalid"])
        for r in validated.groupBy(scale.host_of(F.col("url")).alias("host"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col("verdict")).cast("long")).alias("n_invalid"),
        )
        .collect()
    }
    salted = {
        r["host"]: (r["n_rows"], r["n_invalid"])
        for r in scale.per_host_verdicts(validated).collect()
    }
    assert salted == plain
    # the generator really is skewed: hottest host >> median host
    counts = sorted((n for n, _ in plain.values()), reverse=True)
    assert counts[0] > 10 * counts[len(counts) // 2]


def test_host_of_and_bad_urls(spark):
    df = spark.createDataFrame(
        [("https://a.example.com/x",), ("notaurl:77",)], "url: string"
    )
    got = [r["h"] for r in df.select(scale.host_of(F.col("url")).alias("h")).collect()]
    assert got[0] == "a.example.com"
    assert got[1] is None  # malformed url -> NULL host, lands in null group


def test_prune_days_pushdown(spark, tmp_path):
    import contextlib
    import io

    src = str(tmp_path / "p")
    pages(spark, 2000).write.parquet(src)
    df = scale.prune_days(spark.read.parquet(src), "warc_ts", "2026-01-02", "2026-01-05")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "warc_ts" in plan.split("PushedFilters")[1][:200]
    n = df.count()
    assert 0 < n < 2000


def test_column_profile_exact_matches_builtin(spark):
    """r9 optimization pin: tc.column_profile_exact (distinct-value
    count table + range-partitioned rank lookup + replayed
    Percentile.getPercentile arithmetic) must equal the builtin shape
    column_stats ⋈ percentiles on randomized data with duplicates and
    nulls — every stat long and every rounded percentile double."""
    import random

    from pyspark.sql import functions as F

    from schema_fantasy_spark import table_checks as tc

    random.seed(11)
    rows = []
    for i in range(4000):
        a = round(random.uniform(900, 105000), 2) if i % 17 else None
        b = float(random.randint(1, 50))
        c = round(random.randint(0, 10) * 0.01, 2)
        rows.append((a, b, c))
    # duplicates on the high-cardinality column too
    rows += random.choices(rows, k=500)
    df = spark.createDataFrame(rows, "a double, b double, c double").repartition(7)
    cols, pct_cols = ["a", "b", "c"], ["a", "b"]
    old = (
        tc.column_stats(df, cols)
        .join(F.broadcast(tc.percentiles(df, pct_cols)), "col_name", "left")
    )
    new = tc.column_profile_exact(df, cols, pct_cols)
    assert old.schema == new.schema
    o = {r["col_name"]: r.asDict() for r in old.collect()}
    n = {r["col_name"]: r.asDict() for r in new.collect()}
    assert o == n


def test_column_profile_exact_empty_input(spark):
    """Empty-table parity: the wide-agg shape emits one row per column
    (nulls + zero counts); the count-table shape must mirror it."""
    from pyspark.sql import functions as F

    from schema_fantasy_spark import table_checks as tc

    df = spark.createDataFrame([], "a double, b double")
    old = (
        tc.column_stats(df, ["a", "b"])
        .join(F.broadcast(tc.percentiles(df, ["a"])), "col_name", "left")
    )
    new = tc.column_profile_exact(df, ["a", "b"], ["a"])
    assert old.schema == new.schema
    o = sorted(tuple(r) for r in old.collect())
    n = sorted(tuple(r) for r in new.collect())
    assert o == n


def test_column_profile_exact_releases_storage(spark):
    """The persisted count table and the checkpointed range layout are
    both dropped from executor storage before the call returns."""
    from schema_fantasy_spark import table_checks as tc

    df = spark.createDataFrame([(float(i % 13), float(i)) for i in range(300)],
                               "a double, b double")
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    tc.column_profile_exact(df, ["a", "b"], ["a", "b"]).collect()
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == before
