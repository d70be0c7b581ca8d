"""Any column name works at every entry point that takes one.

The engine maps each JSON property to the column of the same name, and a
property name may be any string. Each case below runs one entry point on
a frame whose columns are named ``c.d``, ``a b``, ``it's`` and ``x`y``,
and again on the same frame with the ordinary names ``c_d``, ``a_b``,
``its`` and ``x_y``: the two results must be the same once the names are
mapped. A raw name reaching Spark would read ``c.d`` as the field ``d``
of a struct ``c`` and fail to parse ``a b`` in SQL text."""

import json

import pytest
from pyspark.sql import types as T

from schema_fantasy_spark import table_checks as tc
from schema_fantasy_spark.columns import quoted
from schema_fantasy_spark.engine import ValidationEngine
from schema_fantasy_spark.manifest import ResumableValidationRun
from schema_fantasy_spark.suite import CheckSuite

ODD = ["c.d", "a b", "it's", "x`y"]
PLAIN = ["c_d", "a_b", "its", "x_y"]
TYPES = [T.LongType(), T.LongType(), T.DoubleType(), T.DoubleType()]
ROWS = [(1, 1, 0.5, 10.0), (1, 2, 1.5, None), (2, 2, 2.5, 30.0), (None, None, 3.5, 40.0)]
#: the document column of dynamic mode: odd, plain
DOC_COLS = ("j.s", "j_s")


def _frame(spark, names):
    fields = [T.StructField(n, t) for n, t in zip(names, TYPES)]
    return spark.createDataFrame(ROWS, T.StructType(fields))


def _schema(names):
    """A schema on the columns ``names`` that every row of ``ROWS`` fails:
    ``minimum``, ``maximum``, ``enum`` and ``required`` in turn."""
    key, ab, its, xy = names
    return {"required": [key], "properties": {
        key: {"enum": [1]}, ab: {"maximum": 1}, its: {"type": "number"}, xy: {"minimum": 20}}}


def _parent(spark, names):
    """A parent table holding the one key 1, in a column named like ``a b``."""
    return spark.createDataFrame([(1,)], T.StructType([T.StructField(names[1], T.LongType())]))


def _validated(spark, names):
    """A validated frame with columns ``names``, built on ordinary names:
    these cases test the consumers of ``errors``, not the backends."""
    plain = ValidationEngine(_schema(PLAIN)).apply(_frame(spark, PLAIN))
    return plain.toDF(*names, "errors", "verdict")


def _dynamic(spark, names):
    """Dynamic mode on ``ROWS`` as JSON objects (a null is an absent key)."""
    doc_col = DOC_COLS[names is PLAIN]
    docs = [(json.dumps({n: v for n, v in zip(names, row) if v is not None}),) for row in ROWS]
    df = spark.createDataFrame(docs, T.StructType([T.StructField(doc_col, T.StringType())]))
    return ValidationEngine(_schema(names), mode="dynamic").apply(df, doc_col=doc_col)


def _run(spark, df, names, tmp):
    engine = ValidationEngine(_schema(names))
    out = ResumableValidationRun(engine, str(tmp / "m"), partition_col=names[0],
                                 violations_dir=str(tmp / "v"), id_cols=(names[3],)).run(df)
    return out.processed, out.skipped, out.summary, spark.read.parquet(str(tmp / "v"))


def _suite(df, suite):
    return [r.as_tuple() for r in suite.run(df).results]


def _baseline(spark):
    return spark.createDataFrame([("1", 1), ("2", 2), ("<null>", 1)], "bucket string, n bigint")


# (id, fn(spark, df, names, tmp)): each names ``c.d`` (dynamic mode:
# ``j.s``); the four profiles take all four columns
CASES = [
    ("columnar_apply", lambda s, df, n, t: ValidationEngine(_schema(n)).apply(df)),
    ("dynamic_apply", lambda s, df, n, t: _dynamic(s, n)),
    ("partition_verdicts", lambda s, df, n, t: ValidationEngine.partition_verdicts(
        _validated(s, n), [n[0]])),
    ("error_breakdown", lambda s, df, n, t: ValidationEngine.error_breakdown(
        _validated(s, n), [n[0]])),
    ("violations", lambda s, df, n, t: ValidationEngine.violations(_validated(s, n), [n[0]])),
    ("resumable_run", lambda s, df, n, t: _run(s, df, n, t)),
    ("suite_null_rate", lambda s, df, n, t: _suite(df, CheckSuite().with_null_rate(n[0], 0.1))),
    ("suite_bounds", lambda s, df, n, t: _suite(df, CheckSuite().with_bounds(n[0], 1, 1))),
    ("suite_uniqueness", lambda s, df, n, t: _suite(df, CheckSuite().with_uniqueness([n[0]]))),
    ("suite_referential", lambda s, df, n, t: _suite(
        df, CheckSuite().with_referential(_parent(s, n).toDF(n[0]), n[0]))),
    ("suite_categorical_drift", lambda s, df, n, t: _suite(
        df, CheckSuite().with_categorical_drift(n[0], _baseline(s), 1.0))),
    ("null_rates", lambda s, df, n, t: tc.null_rates(df, n)),
    ("column_stats", lambda s, df, n, t: tc.column_stats(df, n)),
    ("percentiles", lambda s, df, n, t: tc.percentiles(df, n)),
    ("cardinality_approx", lambda s, df, n, t: tc.cardinality_approx(df, n)),
    ("duplicate_keys", lambda s, df, n, t: tc.duplicate_keys(df, [n[0]])),
    ("uniqueness_summary", lambda s, df, n, t: tc.uniqueness_summary(df, [n[0]])),
    ("referential_orphans", lambda s, df, n, t: tc.referential_orphans(
        df, _parent(s, n), n[0], n[1])),
    ("referential_summary", lambda s, df, n, t: tc.referential_summary(
        df, _parent(s, n), n[0], n[1])),
    ("group_histogram", lambda s, df, n, t: tc.group_histogram(df, n[0])),
    ("numeric_histogram", lambda s, df, n, t: tc.numeric_histogram(df, n[0], 0.0, 4.0, 4)),
    ("schema_check", lambda s, df, n, t: tc.schema_check(df, {n[0]: "bigint", n[1]: "string"})),
]


def _plain(value):
    """``value`` (results, rows, lists, strings) with the odd names, and
    the dynamic document column, written as the ordinary ones."""
    if isinstance(value, str):
        for odd, plain in [*zip(ODD, PLAIN), DOC_COLS]:
            value = value.replace(odd, plain)
        return value
    if isinstance(value, dict):
        return {_plain(k): _plain(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_plain(v) for v in value]
    if hasattr(value, "collect"):  # a DataFrame: its columns and rows
        return [_plain(value.columns), sorted((_plain(list(r)) for r in value.collect()), key=repr)]
    return value


@pytest.mark.parametrize("case", [fn for _, fn in CASES], ids=[i for i, _ in CASES])
def test_any_column_name(spark, tmp_path, case):
    got = _plain(case(spark, _frame(spark, ODD), ODD, tmp_path / "odd"))
    want = _plain(case(spark, _frame(spark, PLAIN), PLAIN, tmp_path / "plain"))
    assert got == want


def test_quoted_doubles_a_backquote():
    assert [quoted(n) for n in ODD] == ["`c.d`", "`a b`", "`it's`", "`x``y`"]
