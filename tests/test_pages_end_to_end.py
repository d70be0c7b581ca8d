"""Tier 3 — end-to-end on the synthetic web-pages table (FIXTURES.md §1):
exact injected-violation sets, per-partition verdicts, the
byte-identical-text-per-url invariant, and snapshot-pair referential /
drift checks."""

import pyspark.sql.functions as F

from schema_fantasy_spark import table_checks as tc
from schema_fantasy_spark.engine import ValidationEngine
from schema_fantasy_spark.sources.pages import (
    PAGES_SCHEMA,
    expected_violation_ids,
    pages,
    snapshot_pair,
)

N = 4000


def test_exact_violation_sets(spark):
    df = pages(spark, N)
    exp = expected_violation_ids(N)
    validated = ValidationEngine(PAGES_SCHEMA).apply(df)
    viol = ValidationEngine.violations(validated, ["id"])
    got = {}
    for r in viol.collect():
        got.setdefault((r["keyword"], "/".join(r["path"])), set()).add(r["id"])
    assert got[("pattern", "url")] == set(exp["bad_url"])
    assert got[("minLength", "text")] == set(exp["empty_text"])
    assert got[("required", "")] == set(exp["null_text"])
    assert got[("maximum", "warc_ts")] == set(exp["future_ts"])
    assert got[("enum", "lang")] == set(exp["bad_lang"])
    # nothing else flagged
    assert set(got) == {("pattern", "url"), ("minLength", "text"), ("required", ""),
                        ("maximum", "warc_ts"), ("enum", "lang")}


def test_error_breakdown_counts_the_violation_rows(spark):
    """Every violation row is counted once in ``error_breakdown``, with and
    without group columns."""
    validated = ValidationEngine(PAGES_SCHEMA).apply(pages(spark, N))
    n_rows = ValidationEngine.violations(validated, ["id"]).count()
    assert n_rows > 0
    for group_cols in ((), ["lang"]):
        breakdown = ValidationEngine.error_breakdown(validated, group_cols)
        assert breakdown.agg(F.sum("n_violations")).first()[0] == n_rows


def test_byte_identical_text_per_url(spark):
    """text is a pure function of url -> every url maps to exactly one
    text hash, even for injected duplicate urls (BASELINE.json per-row
    invariant)."""
    df = pages(spark, N).filter(F.col("text").isNotNull())
    multi = (
        df.groupBy("url")
        .agg(F.count_distinct(F.xxhash64("text")).alias("n_texts"))
        .filter(F.col("n_texts") > 1)
    )
    assert multi.count() == 0


def test_determinism_across_parallelism(spark):
    """Same rows regardless of partition count (scaling runs read
    literally identical data)."""
    agg = F.expr("bit_xor(xxhash64(url, text, lang))").alias("h")
    h1 = pages(spark, 2000, partitions=2).agg(agg).collect()[0]["h"]
    h2 = pages(spark, 2000, partitions=16).agg(agg).collect()[0]["h"]
    assert h1 == h2


def test_uniqueness_on_url(spark):
    df = pages(spark, N)
    exp = expected_violation_ids(N)
    dups = tc.duplicate_keys(df, ["url"])
    rows = dups.collect()
    assert len(rows) == len(exp["dup_url"])
    assert all(r["n_copies"] == 2 and r["n_duplicates"] == 1 for r in rows)
    # summary contract
    s = tc.uniqueness_summary(df, ["url"]).collect()[0]
    assert s["n_duplicates"] == len(exp["dup_url"]) and not s["pass"]


def test_uniqueness_ignores_null_keys(spark):
    """A NULL key is unknown, not a value: uniqueness holds over the rows
    whose key columns are all non-null, as referential_orphans already
    treats a NULL foreign key. Two NULLs duplicate nothing, and a
    composite key with a NULL part is left out too."""
    df = spark.createDataFrame(
        [(1, None, "x"), (2, None, "x"), (3, "a", None), (4, "a", None),
         (5, "b", "y"), (6, "b", "y"), (7, "c", "z")],
        "id int, k string, k2 string",
    )
    s = tc.uniqueness_summary(df, ["k"]).collect()[0].asDict()
    assert s == {"n_keys": 3, "n_rows": 5, "n_duplicates": 2, "pass": False}
    assert sorted((r["k"], r["n_duplicates"]) for r in tc.duplicate_keys(df, ["k"]).collect()) == [
        ("a", 1), ("b", 1)]
    s2 = tc.uniqueness_summary(df, ["k", "k2"]).collect()[0].asDict()
    assert s2 == {"n_keys": 2, "n_rows": 3, "n_duplicates": 1, "pass": False}
    only_nulls = spark.createDataFrame([(None,), (None,), ("a",)], "k string")
    s3 = tc.uniqueness_summary(only_nulls, ["k"]).collect()[0].asDict()
    assert s3 == {"n_keys": 1, "n_rows": 1, "n_duplicates": 0, "pass": True}
    assert tc.duplicate_keys(only_nulls, ["k"]).count() == 0
    empty = tc.uniqueness_summary(only_nulls.filter("k is null"), ["k"]).collect()[0]
    assert empty.asDict() == {"n_keys": 0, "n_rows": 0, "n_duplicates": 0, "pass": True}


def test_null_rate_lang(spark):
    df = pages(spark, N)
    exp = expected_violation_ids(N)
    nr = {r["col_name"]: r for r in tc.null_rates(df, ["lang", "text"]).collect()}
    assert nr["lang"]["n_null"] == len(exp["null_lang"])
    assert nr["text"]["n_null"] == len(exp["null_text"])
    assert abs(nr["lang"]["null_rate"] - len(exp["null_lang"]) / N) < 1e-9


def test_cardinality_approx_within_5pct(spark):
    """HLL cardinality (BASELINE.json): one scan for every column, and
    each column's estimate within 5% of the exact distinct count."""
    import contextlib
    import io
    import re

    df = pages(spark, N)
    cols = ["lang", "text", "url", "warc_ts"]
    approx = tc.cardinality_approx(df, cols)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        approx.explain("formatted")
    assert len(re.findall(r"\(\d+\) Range", buf.getvalue())) == 1, buf.getvalue()
    exact = df.agg(*[F.count_distinct(c).alias(c) for c in cols]).collect()[0]
    got = {r["col_name"]: r["approx_distinct"] for r in approx.collect()}
    assert sorted(got) == cols
    for c in cols:
        assert abs(got[c] - exact[c]) <= 0.05 * exact[c], (c, got[c], exact[c])


def test_snapshot_referential_orphans(spark):
    base, nxt = snapshot_pair(spark, 3000, drop_mod=211)
    # urls in base missing from next = dropped ids (except id 0 keeps its
    # url alive iff another row duplicates it — dup ids are never ≡0 mod 211
    # and 211 is prime > 1000-marks interactions handled by exact compute)
    orphans = tc.referential_orphans(
        base.select("id", "url"), nxt.select("url"), "url"
    )
    got = {r["id"] for r in orphans.collect()}
    # the dropped ids (multiples of 211 < 3000) are exactly the orphans:
    # none is ≡ 6 or 7 (mod 1000), so duplicate-url rescue never applies
    want = set(range(0, 3000, 211))
    assert got == want


def test_lang_drift_positive(spark):
    base, nxt = snapshot_pair(spark, 3000)
    cur_h = tc.group_histogram(nxt, "lang")
    base_h = tc.group_histogram(base, "lang")
    stat = tc.chi_square_stat(cur_h, base_h).collect()[0]
    assert stat["chi_square"] > 10  # distribution was shifted by design
    assert stat["dof"] >= 5
    # self-drift is ~zero
    self_stat = tc.chi_square_stat(base_h, base_h).collect()[0]
    assert self_stat["chi_square"] == 0.0


def test_ks_drift_on_text_length(spark):
    base, nxt = snapshot_pair(spark, 2000)
    b = base.withColumn("tl", F.length("text"))
    n = nxt.withColumn("tl", F.length("text"))
    hb = tc.numeric_histogram(b, "tl", 0, 5000, 25)
    hn = tc.numeric_histogram(n, "tl", 0, 5000, 25)
    assert tc.ks_stat(hb, hb).collect()[0]["ks_stat"] == 0.0  # self-drift zero
    d = tc.ks_stat(hn, hb).collect()[0]["ks_stat"]
    assert 0.0 <= d < 0.2  # text-length law unchanged between snapshots


def test_text_consistency_vs_reference_corpus(spark):
    """BASELINE.json per-row invariant: byte-identical text per url vs a
    reference corpus. The regenerated table IS the reference (text is a
    pure function of url), so self-check is empty; a corrupted copy is
    caught exactly."""
    df = pages(spark, 1500).filter(F.col("text").isNotNull())
    ref = pages(spark, 1500).filter(F.col("text").isNotNull())
    assert tc.text_consistency(df, ref).count() == 0
    corrupted = ref.withColumn(
        "text",
        F.when(F.col("id") % 500 == 3, F.concat(F.col("text"), F.lit("X")))
        .otherwise(F.col("text")),
    )
    bad = tc.text_consistency(df, corrupted)
    assert bad.count() == len([i for i in range(1500) if i % 500 == 3])
