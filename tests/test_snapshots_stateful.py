"""Snapshot-diff tests, plus engine edge cases (empty input, schema
referencing absent columns)."""

from schema_fantasy_spark import snapshots
from schema_fantasy_spark.engine import ValidationEngine


def test_snapshot_diff_exact(spark):
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id: long, v: string"
    )
    nxt = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, "d")], "id: long, v: string"
    )
    d = {r["id"]: r["change"] for r in snapshots.snapshot_diff(base, nxt, ["id"]).collect()}
    assert d == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
    s = {r["change"]: r["n"] for r in
         snapshots.snapshot_diff_summary(base, nxt, ["id"]).collect()}
    assert s == {"removed": 1, "unchanged": 1, "changed": 1, "added": 1}


def test_snapshot_diff_null_vs_value(spark):
    # NULL and "\0"-sentinel must not collide; NULL -> NULL is unchanged
    base = spark.createDataFrame([(1, None), (2, "x")], "id: long, v: string")
    nxt = spark.createDataFrame([(1, None), (2, None)], "id: long, v: string")
    d = {r["id"]: r["change"] for r in snapshots.snapshot_diff(base, nxt, ["id"]).collect()}
    assert d == {1: "unchanged", 2: "changed"}


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
