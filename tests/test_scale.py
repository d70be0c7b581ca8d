"""Scale helper tests: per-host verdicts (``partition_verdicts`` on
``host_of(url)``) match a plain aggregate on the Zipf-skewed pages
table. The column profile (column_stats ⋈ percentiles) is checked
against pure Python."""

import pyspark.sql.functions as F

from schema_fantasy_spark import scale
from schema_fantasy_spark.engine import ValidationEngine
from schema_fantasy_spark.sources.pages import PAGES_SCHEMA, pages


def test_per_host_verdicts_matches_plain(spark):
    validated = ValidationEngine(PAGES_SCHEMA).apply(pages(spark, 4000)).withColumn(
        "host", scale.host_of(F.col("url"))
    )
    plain = {
        r["host"]: (r["n_rows"], r["n_invalid"])
        for r in validated.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col("verdict")).cast("long")).alias("n_invalid"),
        )
        .collect()
    }
    per_host = {
        r["host"]: (r["n_rows"], r["n_invalid"])
        for r in ValidationEngine.partition_verdicts(validated, ["host"]).collect()
    }
    assert per_host == plain
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


def _spark_percentile(values, p):
    """Spark's exact ``percentile`` (Percentile.getPercentile): linear
    interpolation between the sorted values at floor/ceil of p*(N-1),
    then ``round(_, 4)`` (HALF_UP on the double's decimal string)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    vals = sorted(values)
    pos = p * (len(vals) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    lower, higher = vals[lo], vals[hi]
    v = lower if hi == lo or lower == higher else (hi - pos) * lower + (pos - lo) * higher
    return float(Decimal(repr(v)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def test_column_profile_matches_python(spark):
    """The column profile (column_stats ⋈ percentiles) on randomized data
    with duplicates and nulls equals a pure-Python computation: every
    stat long and every rounded percentile double."""
    import random

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
    cols, pct_cols, probs = ["a", "b", "c"], ["a", "b"], (0.25, 0.5, 0.75, 0.95)
    profile = (
        tc.column_stats(df, cols)
        .join(F.broadcast(tc.percentiles(df, pct_cols, probs)), "col_name", "left")
    )
    got = {r["col_name"]: r.asDict() for r in profile.collect()}
    want = {}
    for k, c in enumerate(cols):
        vals = [r[k] for r in rows if r[k] is not None]
        want[c] = {"col_name": c, "min_val": min(vals), "max_val": max(vals),
                   "n_distinct": len(set(vals)), "n_nonnull": len(vals)}
        for p in probs:
            want[c][f"p{int(p * 100)}"] = (
                _spark_percentile(vals, p) if c in pct_cols else None)
    assert got == want


def test_column_profile_empty_input(spark):
    """An empty table still profiles to one row per column: null stats,
    zero counts, null percentiles."""
    from schema_fantasy_spark import table_checks as tc

    df = spark.createDataFrame([], "a double, b double")
    profile = (
        tc.column_stats(df, ["a", "b"])
        .join(F.broadcast(tc.percentiles(df, ["a"])), "col_name", "left")
    )
    assert sorted(tuple(r) for r in profile.collect()) == [
        (c, None, None, 0, 0, None, None, None, None) for c in ("a", "b")]
