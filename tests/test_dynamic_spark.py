"""Tier 2 — the dynamic (Arrow-batched) Spark mode re-runs the conformance
corpus BATCHED: all cases of a fixture group become rows of one DataFrame
per feature, validated by one pandas-UDF pass (mirrors the reference
harness shape, test/test-suite.js:57-99)."""

import json

import pytest
from pyspark.sql import functions as F

from schema_fantasy_spark.dynamic import validate_json
from tests.conftest import load_fixture_cases

# group cases by (group, feature) so each schema validates one batched DF
_BY_FEATURE = {}
for g, feat, case, schema, refs, data, valid in load_fixture_cases():
    _BY_FEATURE.setdefault((g, feat), {"schema": schema, "refs": refs, "cases": []})
    _BY_FEATURE[(g, feat)]["cases"].append((case, data, valid))

FEATURES = sorted(_BY_FEATURE.items(), key=lambda kv: kv[0])
IDS = [f"{g}:{feat}" for (g, feat), _ in FEATURES]


@pytest.mark.parametrize("key,feature", FEATURES, ids=IDS)
def test_feature_batched(spark, key, feature):
    rows = [
        (case, json.dumps(data), valid) for case, data, valid in feature["cases"]
    ]
    df = spark.createDataFrame(rows, "case: string, doc: string, want: boolean")
    out = validate_json(df, "doc", feature["schema"], feature["refs"])
    bad = out.filter(F.col("verdict") != F.col("want")).select(
        "case", "want", F.to_json("errors").alias("errors")
    ).collect()
    assert not bad, f"{key}: {[(r['case'], r['want'], r['errors']) for r in bad]}"


def test_null_doc_column(spark):
    df = spark.createDataFrame([(None,), ('"x"',)], "doc: string")
    out = validate_json(df, "doc", {"type": "string"})
    got = [r["verdict"] for r in out.orderBy(F.col("doc").asc_nulls_first()).collect()]
    assert got == [False, True]  # JSON null fails type:string; "x" passes


def test_error_struct_roundtrip(spark):
    df = spark.createDataFrame([('{"a": [1, "x"]}',)], "doc: string")
    out = validate_json(df, "doc", {"properties": {"a": {"items": {"type": "integer"}}}})
    errs = out.select("errors").collect()[0][0]
    assert len(errs) == 1
    assert list(errs[0]["path"]) == ["a", "1"]
    assert errs[0]["keyword"] == "type"


def test_malformed_json_quarantined(spark):
    """A malformed document yields a '$parse' violation row instead of
    failing the stage (quarantine path for 10^12-doc corpora)."""
    from schema_fantasy_spark.dynamic import validate_json

    df = spark.createDataFrame(
        [(1, '{"a": 1}'), (2, '{"a": '), (3, None), (4, "[1, 2,")],
        "id: long, doc: string",
    )
    out = validate_json(df, "doc", {"required": ["a"]}).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["verdict"] is True
    assert by_id[2]["verdict"] is False
    assert by_id[2]["errors"][0]["keyword"] == "$parse"
    assert "malformed JSON" in by_id[2]["errors"][0]["message"]
    assert by_id[3]["verdict"] is True  # null value: required is vacuous (type guard)
    assert by_id[4]["errors"][0]["keyword"] == "$parse"


def test_deep_document_quarantined(spark):
    """A well-formed document nested past the kernel's recursion budget
    yields one '$depth' row instead of failing the task; a shallower one
    of the same shape validates normally."""
    schema = {
        "definitions": {"n": {"type": "array", "items": {"$ref": "#/definitions/n"}}},
        "$ref": "#/definitions/n",
    }
    df = spark.createDataFrame(
        [(d, "[" * d + "]" * d) for d in (300, 600)], "depth: long, doc: string"
    )
    by_depth = {r["depth"]: r for r in validate_json(df, "doc", schema).collect()}
    assert by_depth[300]["verdict"] is True
    assert by_depth[300]["errors"] == []
    (row,) = by_depth[600]["errors"]
    assert by_depth[600]["verdict"] is False
    assert (row["keyword"], row["path"], row["depth"]) == ("$depth", [], 0)
    assert row["message"] == "document nests too deeply to validate"
