"""Engine edge cases: empty input, a schema referencing absent columns."""

from schema_fantasy_spark.engine import ValidationEngine


def test_validate_empty_dataframe(spark):
    df = spark.createDataFrame([], "url: string, text: string")
    v = ValidationEngine({"required": ["url"]}).apply(df)
    assert v.count() == 0
    assert ValidationEngine.violations(v, ["url"]).count() == 0


def test_schema_referencing_absent_column_is_vacuous(spark):
    # properties on a column the table lacks: absent property -> pass
    # (reference src/v4/properties.js:13-27); required on it -> always fail
    df = spark.createDataFrame([("x",)], "a: string")
    ok = ValidationEngine({"properties": {"nope": {"type": "integer"}}}).apply(df)
    assert ok.collect()[0]["verdict"] is True
    bad = ValidationEngine({"required": ["nope"]}).apply(df)
    row = bad.collect()[0]
    assert row["verdict"] is False and row["errors"][0]["message"] == "missing nope"
