"""Tier 2 — the dynamic (Arrow-batched) Spark mode re-runs the conformance
corpus BATCHED: all cases of a fixture group become rows of one DataFrame
per feature, validated by one Arrow-UDF pass (mirrors the reference
harness shape, test/test-suite.js:57-99)."""

import json

import pytest
from pyspark.sql import functions as F

from schema_fantasy_spark.engine import ValidationEngine
from tests.conftest import load_fixture_cases

# group cases by (group, feature) so each schema validates one batched DF
_BY_FEATURE = {}
for g, feat, case, schema, refs, data, valid in load_fixture_cases():
    _BY_FEATURE.setdefault((g, feat), {"schema": schema, "refs": refs, "cases": []})
    _BY_FEATURE[(g, feat)]["cases"].append((case, data, valid))

FEATURES = sorted(_BY_FEATURE.items(), key=lambda kv: kv[0])
IDS = [f"{g}:{feat}" for (g, feat), _ in FEATURES]


def _dynamic(df, schema, refs=None):
    return ValidationEngine(schema, refs=refs, mode="dynamic").apply(df, doc_col="doc")


@pytest.mark.parametrize("key,feature", FEATURES, ids=IDS)
def test_feature_batched(spark, key, feature):
    rows = [
        (case, json.dumps(data), valid) for case, data, valid in feature["cases"]
    ]
    df = spark.createDataFrame(rows, "case: string, doc: string, want: boolean")
    out = _dynamic(df, feature["schema"], feature["refs"])
    bad = out.filter(F.col("verdict") != F.col("want")).select(
        "case", "want", F.to_json("errors").alias("errors")
    ).collect()
    assert not bad, f"{key}: {[(r['case'], r['want'], r['errors']) for r in bad]}"


def test_null_doc_column(spark):
    df = spark.createDataFrame([(None,), ('"x"',)], "doc: string")
    out = _dynamic(df, {"type": "string"})
    got = [r["verdict"] for r in out.orderBy(F.col("doc").asc_nulls_first()).collect()]
    assert got == [False, True]  # JSON null fails type:string; "x" passes


def test_error_struct_roundtrip(spark):
    df = spark.createDataFrame([('{"a": [1, "x"]}',)], "doc: string")
    out = _dynamic(df, {"properties": {"a": {"items": {"type": "integer"}}}})
    errs = out.select("errors").collect()[0][0]
    assert len(errs) == 1
    assert list(errs[0]["path"]) == ["a", "1"]
    assert errs[0]["keyword"] == "type"


def test_malformed_json_quarantined(spark):
    """A malformed document yields a '$parse' violation row instead of
    failing the stage (quarantine path for 10^12-doc corpora)."""
    df = spark.createDataFrame(
        [(1, '{"a": 1}'), (2, '{"a": '), (3, None), (4, "[1, 2,")],
        "id: long, doc: string",
    )
    out = _dynamic(df, {"required": ["a"]}).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["verdict"] is True
    assert by_id[2]["verdict"] is False
    assert by_id[2]["errors"][0]["keyword"] == "$parse"
    assert "malformed JSON" in by_id[2]["errors"][0]["message"]
    assert by_id[3]["verdict"] is True  # null value: required is vacuous (type guard)
    assert by_id[4]["errors"][0]["keyword"] == "$parse"


def test_document_not_utf8_is_a_parse_row(spark):
    """A document whose bytes are not UTF-8 (here a string cast from
    binary) is one '$parse' row showing its first bytes with replacement
    characters; the other documents of its batch validate as usual."""
    df = spark.createDataFrame([(1, "22FF22"), (2, "227822"), (3, "7B22612231")],
                               "id: long, hex: string")
    df = df.select("id", F.unhex("hex").cast("string").alias("doc"))
    by_id = {r["id"]: r for r in _dynamic(df, {"type": "string"}).collect()}
    (row,) = by_id[1]["errors"]
    assert (row["keyword"], row["path"], row["depth"]) == ("$parse", [], 0)
    assert row["message"] == 'malformed JSON: "\ufffd"'
    assert row["actual"] == '"\ufffd"'
    assert by_id[2]["verdict"] is True
    assert [e["keyword"] for e in by_id[3]["errors"]] == ["$parse"]


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
    by_depth = {r["depth"]: r for r in _dynamic(df, schema).collect()}
    assert by_depth[300]["verdict"] is True
    assert by_depth[300]["errors"] == []
    (row,) = by_depth[600]["errors"]
    assert by_depth[600]["verdict"] is False
    assert (row["keyword"], row["path"], row["depth"]) == ("$depth", [], 0)
    assert row["message"] == "document nests too deeply to validate"


def test_low_split_input_spreads_to_default_parallelism(spark):
    """The Arrow UDF inherits the scan's parallelism: a one-partition input
    is spread to defaultParallelism before the kernel runs (hash on the
    ``keys`` columns when given); an input already that wide is kept."""
    from schema_fantasy_spark.dynamic import _ensure_parallelism

    want = spark.sparkContext.defaultParallelism
    one = spark.range(64).coalesce(1)
    assert _ensure_parallelism(one).rdd.getNumPartitions() == want
    keyed = _ensure_parallelism(one, keys=("id",))
    assert keyed.rdd.getNumPartitions() == want
    assert sorted(r["id"] for r in keyed.collect()) == list(range(64))
    wide = spark.range(0, 64, 1, want + 1)
    assert _ensure_parallelism(wide) is wide


def test_engine_generates_kernel_once(spark, monkeypatch):
    """A dynamic engine generates its kernel at construction and every
    apply reuses it (and its UDF)."""
    from schema_fantasy_spark.compiler import plan

    calls = []
    generate = plan.generate_source
    monkeypatch.setattr(plan, "generate_source",
                        lambda *a, **kw: calls.append(a) or generate(*a, **kw))
    engine = ValidationEngine({"required": ["a"]}, mode="dynamic")
    df = spark.createDataFrame([(1, '{"a": 1}'), (2, "{}")], "id: long, doc: string")
    for _ in range(2):
        got = {r["id"]: r["verdict"] for r in engine.apply(df, doc_col="doc").collect()}
        assert got == {1: True, 2: False}
    assert len(calls) == 1


def test_string_maximum_against_a_number_is_a_violation_row(spark):
    """PAGES_SCHEMA bounds warc_ts by a timestamp string, which a JSON
    number meets as JS Number(limit) = NaN: a numeric warc_ts is a
    maximum violation row in dynamic and variant mode, not a failed task."""
    from schema_fantasy_spark.sources.pages import PAGES_SCHEMA

    df = spark.createDataFrame(
        [(1, '{"url": "https://a", "warc_ts": 5, "text": "x"}'),
         (2, '{"url": "https://a", "warc_ts": "2020-01-01", "text": "x"}')],
        "id: long, doc: string",
    )
    for validated in (_dynamic(df, PAGES_SCHEMA),
                      ValidationEngine(PAGES_SCHEMA, mode="variant").apply(df, "doc")):
        rows = ValidationEngine.violations(validated, ["id"]).collect()
        assert [(r["id"], list(r["path"]), r["keyword"], r["message"]) for r in rows] == [
            (1, ["warc_ts"], "maximum", "greater than 2030-01-01 00:00:00")]


def test_nan_infinity_docs_quarantined_in_both_modes(spark):
    """NaN/Infinity are not JSON: both kernels must emit $parse, keeping
    the modes oracle-interchangeable."""
    df = spark.createDataFrame(
        [(1, "NaN"), (2, "Infinity"), (3, "1.5")], "id: long, doc: string"
    )
    dyn = {r["id"]: r for r in _dynamic(df, {"maximum": 2}).collect()}
    var = {r["id"]: r for r in ValidationEngine({"maximum": 2}, mode="variant")
           .apply(df, "doc").collect()}
    for i in (1, 2):
        assert dyn[i]["errors"][0]["keyword"] == "$parse"
        assert var[i]["errors"][0]["keyword"] == "$parse"
    assert dyn[3]["verdict"] is True and var[3]["verdict"] is True


def test_deterministic_sample_engine_invariant(spark):
    """The md5-nibble sample keeps EXACTLY the rows an independent Python
    md5 predicts (engine/partitioning invariance), and rates are
    monotonic in the nibble threshold."""
    import hashlib

    from schema_fantasy_spark import scale

    df = spark.createDataFrame([(i,) for i in range(400)], "doc_id: long")
    got = sorted(r["doc_id"] for r in scale.deterministic_sample(df, "doc_id", 4).collect())
    want = sorted(
        i for i in range(400)
        if int(hashlib.md5(str(i).encode()).hexdigest()[0], 16) < 4
    )
    assert got == want
    n16 = scale.deterministic_sample(df, "doc_id", 16).count()
    n0 = scale.deterministic_sample(df, "doc_id", 0).count()
    assert (n16, n0) == (400, 0)
    with pytest.raises(ValueError):
        scale.deterministic_sample(df, "doc_id", 17)
