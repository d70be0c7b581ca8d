"""The result plans ``violations``, ``error_breakdown`` and
``partition_verdicts`` are built from SQL text: a few py4j round trips
each (CLAUDE.md trap 16), with the schema and the rows of the plans built
one ``F.*`` call per column."""

import collections
import gc
import zipimport

import py4j.clientserver
import py4j.protocol
import pytest
from pyspark.sql import functions as F

from perfbench import inputs
from schema_fantasy_spark.engine import ValidationEngine
from schema_fantasy_spark.sources.pages import PAGES_SCHEMA, pages

FIELDS = ("path", "keyword", "message", "expected", "actual", "depth")


def column_violations(validated, id_cols):
    """``violations`` as one ``F.*`` call per column: explode behind the
    barrier, then select each field."""
    barrier = validated.select(*[F.col(c) for c in id_cols],
                               F.explode(F.array(F.col("errors"))).alias("_errs"))
    return (barrier.select(*id_cols, F.explode(F.col("_errs")).alias("error"))
            .select(*id_cols, *[F.col(f"error.{f}").alias(f) for f in FIELDS]))


def column_breakdown(validated, group_cols):
    return (column_violations(validated, group_cols)
            .groupBy(*group_cols, "keyword", F.array_join("path", "/").alias("path"))
            .agg(F.count(F.lit(1)).alias("n_violations")))


def column_verdicts(validated, partition_cols):
    return validated.groupBy(*partition_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum((~F.col("verdict")).cast("long")), F.lit(0)).alias("n_invalid"),
        F.coalesce(F.sum(F.size("errors")), F.lit(0)).alias("n_errors"),
    ).select(
        *partition_cols, "n_rows", (F.col("n_rows") - F.col("n_invalid")).alias("n_valid"),
        "n_invalid", "n_errors", (F.col("n_invalid") == 0).alias("pass"),
    )


@pytest.fixture(scope="module")
def columnar(spark):
    df = pages(spark, 400).withColumn("day", F.to_date("warc_ts"))
    return ValidationEngine(PAGES_SCHEMA).apply(df).select("id", "day", "errors", "verdict")


@pytest.fixture(scope="module")
def dynamic(spark):
    df = inputs.json_docs(spark, 300, 1).withColumn("grp", F.col("id") % 7)
    engine = ValidationEngine(inputs.DOCS_SCHEMA, mode="dynamic")
    return engine.apply(df, doc_col="doc").select("id", "grp", "errors", "verdict").persist()


PLANS = [
    ("violations", ValidationEngine.violations, column_violations),
    ("error_breakdown", ValidationEngine.error_breakdown, column_breakdown),
    ("partition_verdicts", ValidationEngine.partition_verdicts, column_verdicts),
]


@pytest.mark.parametrize("frame,cols", [("columnar", ["id", "day"]), ("columnar", ["day"]),
                                        ("dynamic", ["id"]), ("dynamic", ["grp"])])
@pytest.mark.parametrize("name,built,reference", PLANS, ids=[p[0] for p in PLANS])
def test_plans_match_the_column_built_ones(request, frame, cols, name, built, reference):
    validated = request.getfixturevalue(frame)
    got, want = built(validated, cols), reference(validated, cols)
    assert got.schema == want.schema
    rows = sorted(map(repr, got.collect()))
    assert rows == sorted(map(repr, want.collect())) and rows


def test_error_breakdown_without_groups_matches(dynamic):
    got, want = ValidationEngine.error_breakdown(dynamic), column_breakdown(dynamic, [])
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


#: py4j round trips to build each plan over one grouping column: twice the
#: 14, 39 and 36 the SQL-text plans take (one ``F.*`` call per column took
#: 261, 314 and 234)
DELETE = py4j.protocol.MEMORY_COMMAND_NAME + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME
BUDGETS = {"violations": 28, "error_breakdown": 78, "partition_verdicts": 72}


@pytest.mark.parametrize("name,built,reference", PLANS, ids=[p[0] for p in PLANS])
def test_plans_take_a_few_py4j_round_trips(dynamic, monkeypatch, name, built, reference):
    calls, send = [], py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        # not the deletes of Java objects that Python garbage-collected
        if not command.startswith(DELETE):
            calls.append(command)
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    built(dynamic, ["grp"])  # warm: JVM class and method lookups
    gc.collect()
    calls.clear()
    built(dynamic, ["grp"])
    kinds = collections.Counter(tuple(c.split("\n")[0:3:2]) for c in calls)  # (kind, method)
    assert 0 < len(calls) <= BUDGETS[name], kinds


def test_driver_keeps_the_stdlib_zip_importer(spark):
    """The kernel UDF installs the zip fix in Python workers only."""
    df = spark.createDataFrame([('{"a": 1}',), ('{"b": 1}',)], "doc: string")
    ValidationEngine({"required": ["a"]}, mode="dynamic").apply(df, doc_col="doc").collect()
    method = zipimport.zipimporter.invalidate_caches
    assert not getattr(method, "keeps_unchanged", False)
    assert method.__module__ == "zipimport"
