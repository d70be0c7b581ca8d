"""Physical-plan audits: the shapes that matter at 100 TB, asserted on
explain() output so regressions in join strategy / pushdown / Python
leakage fail loudly.

What each assertion buys at scale:
* BroadcastHashJoin on referential checks — the fact table never shuffles;
* PushedFilters reaching the parquet scan — partition/rowgroup pruning;
* ReadSchema excluding untouched columns — html:binary is ~95% of page
  bytes and must never be read unless a check needs it;
* no BatchEvalPython/ArrowEvalPython in columnar plans — the hot loop
  stays in whole-stage codegen;
* partial_count before the exchange — map-side combine on aggregations.
"""

import contextlib
import io
import re

import pyspark.sql.functions as F
import pytest

from schema_fantasy_spark import table_checks as tc
from schema_fantasy_spark.engine import ValidationEngine
from schema_fantasy_spark.sources.pages import PAGES_SCHEMA, pages


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    pages(spark, 3000).write.parquet(path)
    return path


def test_referential_check_broadcasts_parent(spark, sf_dir="/root/testdata/sf0.001"):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orphans = tc.referential_orphans(orders, customer, "o_custkey", "c_custkey",
                                     broadcast_parent=True)
    plan = plan_of(orphans)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_columnar_validation_no_python_and_pruned_scan(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet)
    validated = ValidationEngine(PAGES_SCHEMA).apply(df).select("url", "verdict")
    # minLength on text and maxLength on url read the stored byte count
    # before any code-point count (columnar._length_violates)
    optimized = plan_of(validated, "extended").split("== Optimized Logical Plan ==")[1]
    optimized = optimized.split("== Physical Plan ==")[0]
    assert "octet_length(text" in optimized and "octet_length(url" in optimized
    plan = plan_of(validated)
    assert "EvalPython" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" not in read_schema, f"html must not be read: {read_schema}"
    assert "codegen id" in plan


def test_filter_pushdown_to_scan(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet).filter(F.col("lang") == "en")
    plan = plan_of(df)
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "lang" in pushed and "EqualTo" in pushed


def test_partition_verdicts_partial_aggregation(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet)
    validated = ValidationEngine(PAGES_SCHEMA).apply(df)
    pv = ValidationEngine.partition_verdicts(
        validated.withColumn("day", F.to_date("warc_ts")), ["day"]
    )
    plan = plan_of(pv)
    # two HashAggregates around one exchange = map-side partial + final
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_salted_agg_two_exchanges(spark, pages_parquet):
    from schema_fantasy_spark import scale

    df = spark.read.parquet(pages_parquet).withColumn(
        "host", scale.host_of(F.col("url"))
    )
    out = scale.salted_agg(df, ["host"], F.col("url"), {"n": (F.lit(1), "count")}, buckets=8)
    plan = plan_of(out)
    # phase-1 agg keyed (host, salt), phase-2 keyed (host): 2 exchanges
    assert plan.count("Exchange") >= 2


def test_dynamic_mode_is_arrow_batched(spark):
    df = spark.createDataFrame([('{"a":1}',)], "doc: string")
    out = ValidationEngine({"required": ["a"]}, mode="dynamic").apply(df, doc_col="doc")
    plan = plan_of(out)
    assert "ArrowEvalPython" in plan  # vectorized, not row-at-a-time BatchEvalPython


def test_bucketed_join_avoids_shuffle(spark, tmp_path_factory):
    """Bucketing co-locates join keys at write time: a self-join of two
    tables bucketed on the same key by the same bucket count needs NO
    exchange on either side — the pre-shuffle is amortized across every
    downstream join/agg (the 100 TB answer for repeatedly-joined tables)."""
    # (warehouse dir is a static conf; tables land in ./spark-warehouse,
    # which is gitignored — dropped again below). At test size the planner
    # would rightly broadcast the small side, so disable the broadcast
    # threshold to model the at-scale case where neither side fits.
    df = pages(spark, 2000).select("id", "url", "lang")
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name in ("pages_b1", "pages_b2"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (df.write.bucketBy(8, "url").sortBy("url").mode("overwrite")
               .format("parquet").saveAsTable(name))
        a = spark.table("pages_b1")
        b = spark.table("pages_b2").select(F.col("url"), F.col("lang").alias("lang2"))
        joined = a.join(b, "url")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # both sides pre-bucketed: zero shuffle
        assert joined.count() >= 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        for name in ("pages_b1", "pages_b2"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_resumable_run_prunes_partitioned_input(spark, tmp_path_factory):
    """North-rule 'explicit partition pruning': when the corpus is stored
    partitioned by the run's partition column (the 100 TB layout), each
    per-partition validation job must read ONLY that partition's files —
    the filter shows up as PartitionFilters, not a post-scan Filter."""
    from schema_fantasy_spark.engine import ValidationEngine
    from schema_fantasy_spark.sources.pages import PAGES_SCHEMA, pages

    root = str(tmp_path_factory.mktemp("pages_by_day"))
    df = pages(spark, 3000).withColumn("day", F.to_date("warc_ts"))
    df.repartition(4, "day").write.mode("overwrite").partitionBy("day").parquet(root)

    part_df = spark.read.parquet(root)
    one_day = part_df.select(F.col("day").cast("string")).distinct().orderBy("day").collect()[0][0]
    pdf = part_df.filter(F.col("day").cast("string") == one_day)
    validated = ValidationEngine(PAGES_SCHEMA).apply(pdf)
    plan = plan_of(validated)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:160]
    assert "day" in pf, pf
    # and the scan is the pruned one, not a full scan + Filter on day
    assert validated.count() > 0


def test_column_stats_single_scan(spark, sf_dir="/root/testdata/sf0.001"):
    """column_stats must profile k columns in ONE pass over the table
    (wide agg + stack unstack; multi-column count_distinct plans through
    Expand — a k-way row expansion but a single scan). The previous
    per-column agg-union shape cost k full scans: at 100 TB, profiling
    4 columns read 400 TB."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    stats = tc.column_stats(
        li, ["l_discount", "l_extendedprice", "l_quantity", "l_tax"]
    )
    plan = plan_of(stats)
    # formatted mode prints each node twice (tree + detail) — count the
    # numbered detail headers
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Expand" in plan  # the one-scan multi-distinct strategy
    # and the full profile (stats + percentiles) is exactly two scans
    pct = tc.percentiles(li, ["l_extendedprice", "l_quantity"])
    profile = stats.join(F.broadcast(pct), "col_name", "left")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan_of(profile))) == 2
