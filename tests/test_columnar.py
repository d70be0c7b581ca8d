"""Columnar compiler tests: every keyword as Column expressions over typed
DataFrames, cross-checked for row-level equivalence against the pure-Python
kernel (the two modes must agree on (path, keyword) multisets)."""

import json
import random
import unicodedata

import pytest
from pyspark.sql import Row, functions as F, types as T

from schema_fantasy_spark.columnar import compile_columnar
from schema_fantasy_spark.compiler.plan import SchemaCompileError, compile_schema
from schema_fantasy_spark.engine import ValidationEngine
from schema_fantasy_spark.errors import errs_to_rows

TYPED_SCHEMA = T.StructType([
    T.StructField("rid", T.LongType()),
    T.StructField("s", T.StringType()),
    T.StructField("n", T.DoubleType()),
    T.StructField("i", T.LongType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("arr", T.ArrayType(T.LongType())),
    T.StructField("tup", T.ArrayType(T.StringType())),
    T.StructField("obj", T.StructType([
        T.StructField("x", T.LongType()),
        T.StructField("y", T.StringType()),
    ])),
    T.StructField("m", T.MapType(T.StringType(), T.StringType())),
])

#: exercises all 23 keywords against the typed table
FULL_SCHEMA = {
    "type": "object",
    "required": ["rid", "s"],
    "minProperties": 2,
    "maxProperties": 9,
    "properties": {
        "s": {"type": "string", "minLength": 2, "maxLength": 8, "pattern": "^[a-z]"},
        "n": {"type": "number", "minimum": 0.5, "maximum": 100,
              "multipleOf": 0.25},
        "i": {"type": "integer", "minimum": 0, "exclusiveMinimum": True,
              "multipleOf": 3, "enum": [3, 6, 9, 12, 15, 18, 21]},
        "b": {"type": "boolean"},
        "arr": {"items": {"type": "integer", "minimum": 0},
                "minItems": 1, "maxItems": 4, "uniqueItems": True},
        "tup": {"items": [{"minLength": 2}, {"pattern": "^z"}],
                "additionalItems": {"maxLength": 3}},
        "obj": {"properties": {"x": {"minimum": 10}, "y": {"enum": ["a", "b"]}},
                "required": ["x"],
                "dependencies": {"y": ["x"]}},
        "m": {"minProperties": 1, "maxProperties": 3,
              "patternProperties": {"^k": {"maxLength": 2}}},
    },
    "allOf": [{"properties": {"i": {"maximum": 50}}}],
    "anyOf": [{"properties": {"n": {"minimum": 1}}},
              {"properties": {"s": {"minLength": 3}}}],
    "oneOf": [{"properties": {"i": {"maximum": 9}}},
              {"properties": {"i": {"minimum": 7}}}],
    "not": {"properties": {"s": {"enum": ["forbidden"]}}},
}


def _mk_rows(n_rows=840):
    """Deterministic corpus: coprime strides walk the full cross-product
    of value pools (lcm(6,5,8,2,6,7,5,9)=2520; 840 rows cover most
    pairwise combinations)."""
    s_pool = ["ab", "a", "toolongstring", "forbidden", "Xcaps", None]
    n_pool = [1.0, 0.3, 1.13, 250.0, None]
    i_pool = [3, 4, 7, 9, 21, 55, -3, None]
    b_pool = [True, None]
    arr_pool = [[1, 2], [], [1, 1], [-5, 3], [1, 2, 3, 4, 5], None]
    tup_pool = [["ab", "zx"], ["a", "nz", "toolong"], [], None, ["zz"], ["ab", "no", "x", "y"], ["ab", "zx", "okx"]]
    obj_pool = [Row(x=15, y="a"), Row(x=5, y="c"), Row(x=None, y="a"), None, Row(x=20, y=None)]
    m_pool = [{"k1": "ab"}, {"k1": "toolong", "other": "v"}, {},
              None, {"a": "x", "b": "y", "c": "z", "d": "w"},
              {"k2": "ok", "kxxxxx": "bad"}, {"zz": "q"}, {"k1": "ab", "k2": "cd"},
              {"k1": None}]
    rows = []
    for rid in range(n_rows):
        rows.append((
            rid,
            s_pool[rid % 6],
            n_pool[(rid * 3 + 1) % 5],
            i_pool[(rid * 5 + 2) % 8],
            b_pool[(rid * 7 + 1) % 2],
            arr_pool[(rid * 5 + 3) % 6],
            tup_pool[(rid * 2 + 1) % 7],
            obj_pool[(rid * 3 + 2) % 5],
            m_pool[(rid * 4 + 1) % 9],
        ))
    return rows


def _to_json(v):
    """Struct NULL field ≡ absent property (dropped); a MAP entry with a
    NULL value is PRESENT with JSON null (maps have real key sets)."""
    if isinstance(v, Row):
        return {k: _to_json(x) for k, x in v.asDict().items() if x is not None}
    if isinstance(v, dict):  # MapType: keep null-valued entries
        return {k: _to_json(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_to_json(x) for x in v]
    return v


def _row_to_json_value(row: dict):
    return {k: _to_json(v) for k, v in row.items() if v is not None}


# ---- cross-mode differential: seeded typed-struct schemas per keyword
#
# Each case draws a typed table and a draft-4 schema that exercises one
# keyword (or $ref / combinator nesting) from a seeded generator, then
# compares every row's FULL error list — path, keyword, message,
# expected, actual and depth — between the columnar plan and the Python
# kernel run on the row's JSON reading (NULL struct field = absent
# property; NULL array element or map value = JSON null). Values are
# JSON-representable (no NaN / ±Infinity: the typed table is a
# projection of JSON documents).
#
# Two documented divergences shape the comparison:
# * min/maxLength: columnar counts raw code points, the kernel NFC code
#   points (test_columnar_counts_raw_code_points), so every case
#   NFC-normalizes its strings.
# * enum's ``actual`` renders the value with Spark's string cast, the
#   kernel as compact JSON ('[1, 2]' vs '[1,2]', '1.0E20' vs '1e+20'),
#   so enum rows compare without ``actual``.

_LONG, _DOUBLE, _STR, _BOOL = T.LongType(), T.DoubleType(), T.StringType(), T.BooleanType()
_XY = T.StructType([T.StructField("x", _LONG), T.StructField("y", _STR)])
_ARR = T.ArrayType
_MAP = lambda vt: T.MapType(_STR, vt)  # noqa: E731

_LONGS = [-7, -1, 0, 1, 2, 3, 5, 6, 9, 10, 12, 21, 50, 100, 2 ** 53 + 1, -(2 ** 53) - 3]
_DOUBLES = [-2.5, -0.0, 0.0, 0.25, 0.5, 1.0, 1.5, 3.0, 9.75, 10.0, 100.0, 100.25,
            0.1, 0.3, 1e-9, 1e20, 2.0 ** 53]
_STRINGS = ["", "a", "ab", "abc", "abcd", "zq", "Zz9", "hello", "p{L}", "uu",
            "x{y}", "\u00e9", "e\u0301", "\u65e5\u672c", "\U0001F600x", "a\nb",
            "ab\n", "b\r", "\u0663" "4", "a_b", " ", "\u00a0", "\x00z", "\u00e9z",
            "k1", "kx", "a\u2028", "\ufeff"]
_KEYS = ["k1", "k2", "ka", "x", "y", "zz", "other"]
_SCALARS = [_LONG, _DOUBLE, _STR, _BOOL]
_ANY = _SCALARS + [_ARR(_LONG), _ARR(_DOUBLE), _ARR(_STR), _XY, _MAP(_STR),
                   _MAP(_LONG), _ARR(_ARR(_LONG)), _ARR(_XY)]


def _value(rng, dt, null_rate=0.12):
    if rng.random() < null_rate:
        return None
    if isinstance(dt, T.LongType):
        return rng.choice(_LONGS)
    if isinstance(dt, T.DoubleType):
        return rng.choice(_DOUBLES)
    if isinstance(dt, T.StringType):
        if rng.random() < 0.7:
            return rng.choice(_STRINGS)
        return "".join(rng.choice("abzAZ09_ {}é\n") for _ in range(rng.randint(0, 6)))
    if isinstance(dt, T.BooleanType):
        return rng.random() < 0.5
    if isinstance(dt, T.ArrayType):
        # elements drawn from a 3-value pool, so duplicates occur
        pool = [_value(rng, dt.elementType, 0.08) for _ in range(3)]
        return [rng.choice(pool) for _ in range(rng.choice([0, 1, 2, 2, 3, 4, 5]))]
    if isinstance(dt, T.MapType):
        return {k: _value(rng, dt.valueType, 0.1)
                for k in rng.sample(_KEYS, rng.randint(0, 4))}
    return Row(**{f.name: _value(rng, f.dataType, 0.25) for f in dt.fields})


def _nfc(v):
    if isinstance(v, str):
        return unicodedata.normalize("NFC", v)
    if isinstance(v, Row):
        return Row(**{k: _nfc(x) for k, x in v.asDict().items()})
    if isinstance(v, dict):
        return {_nfc(k): _nfc(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_nfc(x) for x in v]
    return v


def _pattern(rng):
    """A JS-dialect pattern: Annex-B identity escapes (\\p, \\u), control
    and NUL escapes, named groups and literal braces go through
    regex_dialect on both sides (java_pattern / python_pattern)."""
    atoms = ["a", "b", "z", "[a-c]", "[^a]", "\\d", "\\w", "\\s", ".", "\\.",
             "\\p{L}", "\\u0061", "\\cJ", "\\0", "x{y}", "{", "}", "é",
             "[0-9]", "(?:ab)", "(?<g>a)", "\\n", "\\bz", "\\D", "\\W", "\\S",
             "[a\\S]", "\\B", "\\v"]
    quants = ["", "", "", "*", "+", "?", "{2}", "{1,2}", "{0,}"]
    parts = ["^"] if rng.random() < 0.4 else []
    parts += [rng.choice(atoms) + rng.choice(quants) for _ in range(rng.randint(1, 3))]
    if rng.random() < 0.3:
        parts.insert(rng.randint(0, len(parts)), "|")
    return "".join(parts) + ("$" if rng.random() < 0.4 else "")


def _bound(rng, kw, values):
    s = {kw: rng.choice(values)}
    if rng.random() < 0.6:
        s["exclusive" + kw[0].upper() + kw[1:]] = rng.random() < 0.5
    return s


#: keyword -> fn(rng, dtype) -> schema fragment applying it
_LEAF = {
    "type": lambda r, dt: {"type": (lambda t: t[0] if len(t) == 1 else t)(r.sample(
        ["null", "boolean", "integer", "number", "string", "array", "object"], r.randint(1, 3)))},
    "enum": lambda r, dt: {"enum": [_to_json(_value(r, dt, 0.1)) for _ in range(r.randint(1, 3))]
                           + [r.choice([None, True, 0, 1.0, 3, 2.5, "a", "1", [1, 2], {"x": 1}])
                              for _ in range(r.randint(0, 2))]},
    "minimum": lambda r, dt: _bound(r, "minimum", [-1, 0, 0.5, 1, 3, 9.75, 10, 2 ** 53]),
    "maximum": lambda r, dt: _bound(r, "maximum", [-1, 0, 0.5, 1, 3, 9.75, 100, 2 ** 53]),
    "multipleOf": lambda r, dt: {"multipleOf": r.choice([1, 2, 3, 7, 0.5, 0.25, 0.1, 1.5])},
    "minLength": lambda r, dt: {"minLength": r.randint(0, 4)},
    "maxLength": lambda r, dt: {"maxLength": r.randint(0, 4)},
    "pattern": lambda r, dt: {"pattern": _pattern(r)},
    "minItems": lambda r, dt: {"minItems": r.randint(0, 4)},
    "maxItems": lambda r, dt: {"maxItems": r.randint(0, 4)},
    "uniqueItems": lambda r, dt: {"uniqueItems": r.random() < 0.8},
    "minProperties": lambda r, dt: {"minProperties": r.randint(0, 3)},
    "maxProperties": lambda r, dt: {"maxProperties": r.randint(0, 3)},
    "required": lambda r, dt: {"required": r.sample(["x", "y", "k1", "k2", "nope"], r.randint(1, 3))},
}


def _leaf(rng, dt):
    out = {}
    for kw in rng.sample(sorted(_LEAF), rng.randint(1, 2)):
        out.update(_LEAF[kw](rng, dt))
    return out


def _sub(rng, dt, depth):
    """A sub-schema for values of ``dt``: leaf keywords, a combinator, or
    a structural keyword one level down."""
    if depth <= 0 or rng.random() < 0.45:
        return _leaf(rng, dt)
    kind = rng.choice(["allOf", "anyOf", "oneOf", "not", "down"])
    if kind == "not":
        return {"not": _sub(rng, dt, depth - 1)}
    if kind != "down":
        return {kind: [_sub(rng, dt, depth - 1) for _ in range(rng.randint(1, 3))]}
    if isinstance(dt, T.ArrayType):
        return {"items": _sub(rng, dt.elementType, depth - 1)}
    if isinstance(dt, T.StructType):
        return {"properties": {f.name: _sub(rng, f.dataType, depth - 1)
                               for f in dt.fields if rng.random() < 0.8}}
    if isinstance(dt, T.MapType):
        return {"properties": {k: _sub(rng, dt.valueType, depth - 1) for k in rng.sample(_KEYS, 2)}}
    return _leaf(rng, dt)


def _one_field(*types):
    """Case: the keyword applies to property ``v`` of one of ``types``
    (types it does not apply to check its type guard)."""
    def make(rng, kw):
        dt = rng.choice(types)
        return [("v", dt)], {"properties": {"v": _LEAF[kw](rng, dt)}}
    return make


def _object_fields(rng):
    pool = [("x", _LONG), ("y", _STR), ("k1", _DOUBLE), ("k2", _ARR(_LONG)), ("zz", _BOOL)]
    return rng.sample(pool, rng.randint(2, 5))


def _object_case(rng, kw):
    """Case: an object keyword at the row struct, or on a map column."""
    if rng.random() < 0.35:
        vt = rng.choice([_STR, _LONG])
        if kw == "properties":
            s = {kw: {k: _sub(rng, vt, 1) for k in rng.sample(_KEYS, 3)}}
        elif kw == "patternProperties":
            s = {kw: {p: _leaf(rng, vt) for p in rng.sample(["^k", "z$", "\\d", "."], 2)}}
        elif kw == "additionalProperties":
            s = {"properties": {"k1": {}}, "patternProperties": {"^z": {}},
                 kw: rng.choice([False, True, _leaf(rng, vt)])}
        elif kw == "dependencies":
            s = {kw: {k: rng.sample(_KEYS, rng.randint(1, 2)) if rng.random() < 0.5
                      else {"required": [rng.choice(_KEYS)], "minProperties": 3}
                      for k in rng.sample(_KEYS, 2)}}
        else:
            s = _LEAF[kw](rng, vt)
        return [("v", _MAP(vt))], {"properties": {"v": s}}
    fields = _object_fields(rng)
    names = [n for n, _ in fields]
    if kw == "properties":
        s = {kw: {n: _sub(rng, dt, 1) for n, dt in fields if rng.random() < 0.8}}
        s[kw]["absent"] = _leaf(rng, _STR)
    elif kw == "patternProperties":
        s = {kw: {p: _leaf(rng, rng.choice(fields)[1])
                  for p in rng.sample(["^k", "^x", "z$", "1", "^(x|y)$", "."], 2)}}
    elif kw == "additionalProperties":
        s = {"properties": {n: {} for n in rng.sample(names + ["other"], 2)}}
        if rng.random() < 0.4:
            s["patternProperties"] = {rng.choice(["^k", "z$", "^y"]): {}}
        s[kw] = rng.choice([False, True, _leaf(rng, rng.choice(fields)[1])])
    elif kw == "dependencies":
        s = {kw: {n: rng.sample(names + ["nope"], rng.randint(1, 2)) if rng.random() < 0.5
                  else {"required": [rng.choice(names + ["nope"])],
                        "properties": {fields[0][0]: _leaf(rng, fields[0][1])}}
                  for n in rng.sample(names + ["nope"], 2)}}
    else:
        s = _LEAF[kw](rng, None)
    return fields, s


def _combinator_case(rng, kw):
    fields = _object_fields(rng)
    st = T.StructType([T.StructField(n, dt) for n, dt in fields])
    if kw == "not":
        return fields, {"not": _sub(rng, st, 2)}
    return fields, {kw: [_sub(rng, st, 2) for _ in range(rng.randint(1, 3))]}


def _items_case(rng, kw):
    dt = rng.choice([_ARR(_LONG), _ARR(_DOUBLE), _ARR(_STR), _ARR(_XY), _ARR(_ARR(_LONG))])
    if kw == "items":
        return [("v", dt)], {"properties": {"v": {"items": _sub(rng, dt.elementType, 1)}}}
    et = dt.elementType
    s = {"items": [_leaf(rng, et) for _ in range(rng.randint(0, 3))],
         "additionalItems": rng.choice([False, True, _leaf(rng, et)])}
    return [("v", dt)], {"properties": {"v": s}}


def _ref_case(rng, kw):
    if kw == "$ref":
        fields = _object_fields(rng)
        st = T.StructType([T.StructField(n, dt) for n, dt in fields])
        defs = {n + "_d": _sub(rng, dt, 1) for n, dt in fields if rng.random() < 0.7}
        defs["whole"] = _sub(rng, st, 1)
        return fields, {"definitions": defs,
                        "properties": {d[:-2]: {"$ref": f"#/definitions/{d}"}
                                       for d in defs if d != "whole"},
                        "allOf": [{"$ref": "#/definitions/whole"}]}
    # a $ref chain under items, reached through anyOf
    dt = rng.choice([_ARR(_LONG), _ARR(_STR), _ARR(_XY)])
    return [("v", dt)], {
        "definitions": {"a": {"$ref": "#/definitions/b"},
                        "b": _sub(rng, dt.elementType, 1),
                        "arr": {"items": {"$ref": "#/definitions/a"}}},
        "properties": {"v": {"anyOf": [{"$ref": "#/definitions/arr"}, {"maxItems": 1}]}},
    }


def _nested_case(rng, kw):
    o = T.StructType([T.StructField("x", _LONG), T.StructField("y", _STR),
                      T.StructField("a", _ARR(_XY))])
    fields = [("o", o), ("m", _MAP(_LONG))]
    return fields, _sub(rng, T.StructType([T.StructField(n, dt) for n, dt in fields]), 4)


_DIFF_CASES = {
    "type": _one_field(*_ANY),
    "enum": _one_field(*_ANY),
    "minimum": _one_field(_LONG, _DOUBLE, _STR),
    "maximum": _one_field(_LONG, _DOUBLE, _BOOL),
    "multipleOf": _one_field(_LONG, _DOUBLE),
    "minLength": _one_field(_STR, _LONG),
    "maxLength": _one_field(_STR, _ARR(_STR)),
    "pattern": _one_field(_STR, _STR, _LONG),
    "items": _items_case,
    "additionalItems": _items_case,
    "minItems": _one_field(_ARR(_LONG), _ARR(_STR), _STR),
    "maxItems": _one_field(_ARR(_LONG), _ARR(_XY)),
    "uniqueItems": _one_field(_ARR(_LONG), _ARR(_DOUBLE), _ARR(_STR), _ARR(_XY),
                              _ARR(_ARR(_LONG)), _MAP(_STR)),
    "required": _object_case,
    "properties": _object_case,
    "patternProperties": _object_case,
    "additionalProperties": _object_case,
    "minProperties": _object_case,
    "maxProperties": _object_case,
    "dependencies": _object_case,
    "allOf": _combinator_case,
    "anyOf": _combinator_case,
    "oneOf": _combinator_case,
    "not": _combinator_case,
    "$ref": _ref_case,
    "$ref-chain": _ref_case,
    "nested": _nested_case,
}


def _diff_case(name: str, seed: int, n_rows: int = 48):
    rng = random.Random(f"{name}/{seed}")
    fields, schema = _DIFF_CASES[name](rng, name)
    st = T.StructType([T.StructField("rid", _LONG)]
                      + [T.StructField(n, dt) for n, dt in fields])
    rows = [_nfc([rid, *[_value(rng, dt) for _, dt in fields]]) for rid in range(n_rows)]
    return st, schema, rows


def _error_key(e):
    actual = None if e["keyword"] == "enum" else e["actual"]
    return (tuple(e["path"]), e["keyword"], e["message"], e["expected"], actual, e["depth"])


@pytest.mark.parametrize(
    "name,seed",
    [("full", 0)] + [(n, s) for n in _DIFF_CASES for s in range(5)],
)
def test_columnar_matches_python_kernel(spark, name, seed):
    """The columnar plan and the Python kernel return the same error rows
    on every row: the hand-built 23-keyword FULL_SCHEMA table, and seeded
    generated cases per keyword and for $ref / combinator nesting."""
    if name == "full":
        st, schema, rows = TYPED_SCHEMA, FULL_SCHEMA, _mk_rows()
    else:
        st, schema, rows = _diff_case(name, seed)
    try:
        kernel = compile_schema(schema)
    except SchemaCompileError:
        # a pattern the reference's RegExp rejects: both modes must refuse
        with pytest.raises(SchemaCompileError):
            compile_columnar(schema)
        return
    plan = ValidationEngine(schema)
    df = spark.createDataFrame(rows, st)
    mismatches = []
    # the kernel reads each row as Spark returns it: map entries keep
    # Spark's order, which error messages listing keys follow
    for r in plan.apply(df).collect():
        value = _row_to_json_value({n: r[n] for n in st.names})
        got = sorted(_error_key(e) for e in r["errors"])
        want = sorted(_error_key(e) for e in errs_to_rows(kernel.validate(value)))
        if got != want:
            mismatches.append((value, got, want))
    assert not mismatches, (
        f"{len(mismatches)} rows disagree under {schema!r}; first: {mismatches[0]}"
    )


def test_pattern_properties_map_nonstring_values(spark):
    """patternProperties over map<string,long> must validate matched
    entries (round-1 advice: the StringType-valueType restriction
    silently passed invalid data in the columnar mode)."""
    schema = {"properties": {"m": {"patternProperties": {"^x": {"maximum": 10}}}}}
    df = spark.createDataFrame(
        [(0, {"x1": 999}), (1, {"x1": 5, "other": 999}), (2, {"x2": 11, "x3": 3}), (3, None)],
        T.StructType([
            T.StructField("rid", T.LongType()),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        ]),
    )
    plan = ValidationEngine(schema)
    got = {
        r["rid"]: sorted(("/".join(e["path"]), e["keyword"]) for e in r["errors"])
        for r in plan.apply(df).select("rid", "errors").collect()
    }
    assert got[0] == [("m/x1", "maximum")]
    assert got[1] == []  # non-matching key not validated
    assert got[2] == [("m/x2", "maximum")]
    assert got[3] == []
    # cross-check the dynamic kernel agrees
    kernel = compile_schema(schema)
    for value, want in [({"m": {"x1": 999}}, got[0]), ({"m": {"x1": 5, "other": 999}}, got[1]),
                        ({"m": {"x2": 11, "x3": 3}}, got[2]), ({}, got[3])]:
        errs = sorted(
            ("/".join(str(p) for p in e.vpath), e.keyword)
            for err in kernel.validate(value)
            for e, _dp in err.flatten()
        )
        assert errs == want, value


def test_pattern_properties_over_map_keys_read_patterns_as_js(spark):
    """Map keys are matched with the translated pattern, as everywhere
    else: the flagless RegExp reads \\p{L} as the text 'p{L}' and '$' as
    the end of input (java.util.regex would read a Unicode letter class
    and an end before a final newline)."""
    schema = {"properties": {"m": {"patternProperties": {"\\p{L}": {"maximum": 1},
                                                         "^k$": {"maximum": 1}}}}}
    docs = [{"x": 5}, {"p{L}": 5}, {"k\n": 5}, {"k": 5}]
    df = spark.createDataFrame(list(enumerate(docs)), "rid long, m map<string,long>")
    got = {r["rid"]: sorted("/".join(e["path"]) for e in r["errors"])
           for r in ValidationEngine(schema).apply(df).collect()}
    assert got == {0: [], 1: ["m/p{L}"], 2: [], 3: ["m/k"]}
    kernel = compile_schema(schema)
    for rid, m in enumerate(docs):
        assert sorted("/".join(map(str, e.vpath)) for e in kernel.validate({"m": m})) == got[rid]


def test_composite_enum_structural_equality(spark):
    """Composite enum values compare structurally, not as JSON text
    (round-1 advice: field order and 1 vs 1.0 caused false negatives)."""
    df = spark.createDataFrame(
        [(0, Row(b=1, a=2), [1.0], {"k": 1}),
         (1, Row(b=1, a=3), [2.5], {"k": 2}),
         (2, None, None, None)],
        T.StructType([
            T.StructField("rid", T.LongType()),
            T.StructField("o", T.StructType([
                T.StructField("b", T.LongType()), T.StructField("a", T.LongType())])),
            T.StructField("xs", T.ArrayType(T.DoubleType())),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        ]),
    )
    schema = {"properties": {
        "o": {"enum": [{"b": 1, "a": 2}]},       # field order differs from type's
        "xs": {"enum": [[1], [3.5]]},            # int literal vs double column
        "m": {"enum": [{"k": 1.0}]},             # map + float literal vs long value
    }}
    plan = ValidationEngine(schema)
    got = {r["rid"]: sorted(e["path"][0] for e in r["errors"])
           for r in plan.apply(df).select("rid", "errors").collect()}
    assert got[0] == []          # all three match despite order/numeric repr
    assert got[1] == ["m", "o", "xs"]
    assert got[2] == []          # nulls vacuously pass
    # the dynamic kernel agrees
    kernel = compile_schema(schema)
    assert list(kernel.validate({"o": {"b": 1, "a": 2}, "xs": [1.0], "m": {"k": 1}})) == []
    assert len(list(kernel.validate({"o": {"b": 1, "a": 3}, "xs": [2.5], "m": {"k": 2}}))) == 3


def test_composite_enum_type_mismatch_never_matches(spark):
    """Literals not representable in the column type can match nothing:
    booleans are not numbers, strings are not numbers (R.equals parity)."""
    df = spark.createDataFrame([(1, True, "1")], "i: long, b: boolean, s: string")
    plan = ValidationEngine({"properties": {
        "i": {"enum": [True, "1"]},   # neither matches a numeric 1
        "b": {"enum": [1]},           # number does not match true
        "s": {"enum": [1]},           # number does not match "1"
    }})
    errs = plan.apply(df).collect()[0]["errors"]
    assert sorted(e["path"][0] for e in errs) == ["b", "i", "s"]


def test_columnar_rejects_recursive_schema():
    rec = {"definitions": {"node": {"properties": {"kid": {"$ref": "#/definitions/node"}}}},
           "$ref": "#/definitions/node"}
    with pytest.raises(SchemaCompileError):
        compile_columnar(rec)


def test_columnar_accumulates_all_errors(spark):
    df = spark.createDataFrame([("zz",)], "s: string")
    plan = ValidationEngine(
        {"properties": {"s": {"minLength": 5, "pattern": "^a", "enum": ["q"]}}}
    )
    errs = plan.apply(df).select("errors").collect()[0][0]
    assert sorted(e["keyword"] for e in errs) == ["enum", "minLength", "pattern"]


def test_string_bound_on_a_numeric_column_matches_the_kernel(spark):
    """A string minimum/maximum meets a number column as JS Number(limit),
    as in the kernel; a NaN bound ('2030-01-01 00:00:00') fails every
    number instead of failing the task on a cast."""
    df = spark.createDataFrame([(1, 5), (2, 20), (3, None)], "id: long, n: long")
    for limit in ["10", " 0x10 ", "", "2030-01-01 00:00:00"]:
        schema = {"properties": {"n": {"maximum": limit}}}
        got = {r["id"]: r["verdict"] for r in ValidationEngine(schema).apply(df).collect()}
        kernel = compile_schema(schema)
        assert got == {i: kernel.is_valid({} if n is None else {"n": n})
                       for i, n in ((1, 5), (2, 20), (3, None))}, limit


def test_columnar_additional_properties_static(spark):
    df = spark.createDataFrame([(1, "x")], "a: long, extra: string")
    plan = ValidationEngine({"properties": {"a": {}}, "additionalProperties": False})
    errs = plan.apply(df).select("errors").collect()[0][0]
    assert len(errs) == 1
    assert errs[0]["message"] == "additional property found: extra"


def test_errors_column_bound_once_per_input_type(spark):
    """The errors Column is built once per input struct type: frames with
    the same column names but another type for one column get their own
    errors, and a second same-typed apply reuses the Column."""
    plan = compile_columnar({"properties": {"lang": {"type": "string", "maxLength": 2}}})
    strs = spark.createDataFrame([(1, "en"), (2, "deu")], "id: long, lang: string")
    ints = spark.createDataFrame([(1, 5)], "id: long, lang: long")

    def rows(df):
        return sorted((r["id"], [(e["keyword"], e["actual"]) for e in r["errors"]])
                      for r in df.withColumn("errors", plan.errors_column(df)).collect())

    first = rows(strs)
    assert first == [(1, []), (2, [("maxLength", None)])]
    assert rows(ints) == [(1, [("type", "number")])]
    assert rows(strs) == first
    again = spark.createDataFrame([(3, "x")], "id: long, lang: string")
    assert plan.errors_column(again) is plan.errors_column(strs)
    assert plan.errors_column(ints) is not plan.errors_column(strs)


def test_violations_and_partition_verdicts(spark):
    df = spark.createDataFrame(
        [(1, "ok", "g1"), (2, None, "g1"), (3, "ok", "g2")], "id: long, v: string, g: string"
    )
    eng = ValidationEngine({"required": ["v"]})
    validated = eng.apply(df)
    viol = ValidationEngine.violations(validated, ["id"])
    assert [r["id"] for r in viol.collect()] == [2]
    pv = {r["g"]: (r["n_invalid"], r["pass"]) for r in
          ValidationEngine.partition_verdicts(validated, ["g"]).collect()}
    assert pv == {"g1": (1, False), "g2": (0, True)}


def test_whole_stage_codegen_in_plan(spark):
    """The columnar path must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython nodes, and codegen must cover the project."""
    df = spark.createDataFrame([("a", 1.0)], "s: string, n: double")
    plan = ValidationEngine(
        {"required": ["s"], "properties": {"s": {"minLength": 2}, "n": {"minimum": 0}}}
    )
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan.apply(df).explain("formatted")
    explained = buf.getvalue()
    assert "EvalPython" not in explained
    assert "codegen id" in explained  # whole-stage codegen covers the project


def test_columnar_counts_raw_code_points(spark):
    """Columnar min/maxLength count raw code points, without NFC (a
    documented divergence; dynamic mode normalizes): a decomposed "Å",
    "A" + COMBINING RING, is 2 code points, so it fails maxLength 1."""
    df = spark.createDataFrame([("A\u030a",)], "s: string")
    plan = ValidationEngine({"properties": {"s": {"maxLength": 1}}})
    assert plan.apply(df).collect()[0]["verdict"] is False  # raw: 2 > 1


_SIZE_KEYWORDS = ["minLength", "maxLength", "minItems", "maxItems",
                  "minProperties", "maxProperties"]


@pytest.mark.parametrize("limit", [2**63, 2**64], ids=["2^63", "2^64"])
@pytest.mark.parametrize("kw", _SIZE_KEYWORDS)
def test_size_limit_beyond_long_range(spark, kw, limit):
    """A size limit no Spark long holds validates like any other: the
    keyword on a string, an array, a map and the row struct gives the
    kernel's error rows on every row."""
    schema = {kw: limit, "properties": {c: {kw: limit} for c in ("s", "a", "m")}}
    st = T.StructType([T.StructField("rid", _LONG), T.StructField("s", _STR),
                       T.StructField("a", _ARR(_LONG)), T.StructField("m", _MAP(_LONG))])
    rows = [(0, "", [], {}), (1, "abc", [1, 2], {"k": 1}), (2, None, None, None)]
    kernel = compile_schema(schema)
    out = ValidationEngine(schema).apply(spark.createDataFrame(rows, st)).collect()
    for r in out:
        value = _row_to_json_value({n: r[n] for n in st.names})
        want = sorted(_error_key(e) for e in errs_to_rows(kernel.validate(value)))
        assert sorted(_error_key(e) for e in r["errors"]) == want, value


#: code points of each UTF-8 byte width (surrogates excluded)
_WIDTH_RANGES = {1: (0x20, 0x7E), 2: (0x80, 0x7FF), 3: (0x800, 0xD7FF), 4: (0x10000, 0x10FFFF)}


def _width_string(rng, n, widths=(1, 2, 3, 4)):
    return "".join(chr(rng.randint(*_WIDTH_RANGES[rng.choice(widths)])) for _ in range(n))


def _invalid_utf8(rng):
    """Bytes that do not decode: stray continuation bytes, bytes no UTF-8
    sequence uses, and lead bytes cut short, mixed with valid code points."""
    parts = [bytes([0xFF])]
    for _ in range(rng.randint(0, 8)):
        pick = rng.random()
        if pick < 0.4:
            parts.append(_width_string(rng, 1).encode("utf-8"))
        elif pick < 0.6:
            parts.append(bytes([rng.randint(0x80, 0xBF)]))
        elif pick < 0.8:
            parts.append(bytes([rng.choice([0xC0, 0xC1, *range(0xF5, 0x100)])]))
        else:
            parts.append(_width_string(rng, 1, (2, 3, 4)).encode("utf-8")[:-1])
    rng.shuffle(parts)
    return b"".join(parts)


def test_string_length_checks_match_code_point_count(spark):
    """min/maxLength decided from the byte length (with a code-point count
    only inside the 1-to-4-bytes-per-code-point window) give the errors of
    a plain code-point comparison: strings of 1- to 4-byte code points and
    invalid UTF-8, limits at the window edges, and one limit whose 4k is
    out of int range. On valid UTF-8 they are also the kernel's."""
    rng = random.Random(11)
    texts = [unicodedata.normalize("NFC", _width_string(rng, rng.randint(0, 15)))
             for _ in range(300)]
    texts += [_width_string(rng, n, (4,)) for n in (511, 512, 513)]
    texts += ["a" + _width_string(rng, 511, (4,)), _width_string(rng, 512, (4,)) + "a"]
    raw = [t.encode("utf-8") for t in texts]
    raw += [_invalid_utf8(rng) for _ in range(150)]
    limits = [*range(14), 512, 2**29 + 1]
    schema = {"properties": {f"c{k}": {"minLength": k, "maxLength": k} for k in limits}}
    base = spark.createDataFrame(list(enumerate(b.hex() for b in raw)), "rid: long, hex: string")
    s = F.unhex("hex").cast("string")
    df = base.select("rid", F.length(s).alias("n"), *[s.alias(f"c{k}") for k in limits])
    kernel = compile_schema(schema)
    out = ValidationEngine(schema).apply(df).select("rid", "n", "errors").collect()
    assert len(out) == len(raw)
    n_valid = n_walked = 0
    for r in out:
        n = r["n"]
        got = sorted((e["path"][0], e["keyword"]) for e in r["errors"])
        want = sorted([(f"c{k}", "minLength") for k in limits if n < k]
                      + [(f"c{k}", "maxLength") for k in limits if n > k])
        assert got == want, (raw[r["rid"]], n)
        try:
            text = raw[r["rid"]].decode("utf-8")
        except UnicodeDecodeError:
            continue
        n_valid += 1
        n_walked += any(k <= len(raw[r["rid"]]) < 4 * k for k in limits)
        kernel_errors = errs_to_rows(kernel.validate({f"c{k}": text for k in limits}))
        assert (sorted(_error_key(e) for e in r["errors"])
                == sorted(_error_key(e) for e in kernel_errors)), text
    # the window is exercised and the invalid rows really are invalid
    assert n_valid == len(texts) and n_walked > 200


def test_composite_enum_randomized_cross_check(spark):
    """Randomized (enum, value) combinations per column type: the columnar
    typed-literal equality must agree with the dynamic kernel row by row
    (seeded, deterministic). Covers numeric coercion, field order, maps,
    nesting, and non-representable literals."""
    import random

    rnd = random.Random(7)

    def nums():
        # ints and floats that collide (1 vs 1.0) plus non-integral floats
        return rnd.choice([0, 1, 2, 1.0, 2.0, 2.5, -1, -1.0])

    cases = []  # (col_ddl, spark_rows, json_values, enum_literals)

    # array<double>
    pool = [[nums() for _ in range(rnd.randrange(0, 3))] for _ in range(12)]
    cases.append((
        T.ArrayType(T.DoubleType()),
        [[float(x) for x in v] for v in pool],
        [list(v) for v in pool],
        rnd.sample(pool, 4) + [["x"], [True], [3.3]],
    ))
    # array<long> (non-integral float literals can match nothing)
    ipool = [[rnd.randrange(-2, 3) for _ in range(rnd.randrange(0, 3))] for _ in range(12)]
    cases.append((
        T.ArrayType(T.LongType()),
        [list(v) for v in ipool],
        [list(v) for v in ipool],
        rnd.sample(ipool, 3) + [[1.0, 2.0], [2.5], [1, "a"]],
    ))
    # struct<a:long, b:double> — literal dicts in shuffled field order
    spool = [{"a": rnd.randrange(0, 3), "b": float(rnd.choice([0, 1, 2.5]))} for _ in range(10)]
    cases.append((
        T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.DoubleType())]),
        [Row(a=v["a"], b=v["b"]) for v in spool],
        [dict(v) for v in spool],
        [{"b": v["b"], "a": v["a"]} for v in rnd.sample(spool, 3)]
        + [{"a": 0}, {"a": 0, "b": 0, "c": 1}, {"a": "x", "b": 1}],
    ))
    # map<string,long>
    mpool = [{k: rnd.randrange(0, 3) for k in rnd.sample("wxyz", rnd.randrange(0, 3))}
             for _ in range(10)]
    cases.append((
        T.MapType(T.StringType(), T.LongType()),
        [dict(v) for v in mpool],
        [dict(v) for v in mpool],
        rnd.sample(mpool, 3) + [{"w": 1.0}, {"v": 9}, {}],
    ))

    for dtype, spark_vals, json_vals, enum in cases:
        schema = {"properties": {"c": {"enum": enum}}}
        df = spark.createDataFrame(
            list(enumerate(spark_vals)),
            T.StructType([T.StructField("rid", T.LongType()), T.StructField("c", dtype)]),
        )
        plan = ValidationEngine(schema)
        got = {r["rid"]: len(r["errors"]) == 0 for r in plan.apply(df).collect()}
        kernel = compile_schema(schema)
        for rid, v in enumerate(json_vals):
            want = not list(kernel.validate({"c": v}))
            assert got[rid] == want, (dtype.simpleString(), v, enum, got[rid], want)


def test_enum_out_of_range_literal_matches_nothing(spark):
    """ANSI trap: an enum literal outside the column type's range must
    simply never match — casting it would throw CAST_OVERFLOW and kill
    the job (round-2 review finding, reproduced live)."""
    df = spark.createDataFrame([(1, 5), (2, 7)], "rid: long, i: int")
    plan = ValidationEngine({"properties": {"i": {"enum": [4294967296, 5, 1e30]}}})
    got = {r["rid"]: r["verdict"] for r in plan.apply(df).collect()}
    assert got == {1: True, 2: False}


def test_enum_on_date_and_timestamp_columns(spark):
    """Engine extension parity with minimum/maximum: string enum literals
    compare against typed date/timestamp columns (regression: the typed-
    literal rewrite initially made every non-null date fail)."""
    import datetime

    df = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 1)), (2, datetime.date(2025, 2, 2)), (3, None)],
        "rid: long, d: date",
    )
    plan = ValidationEngine({"properties": {"d": {"enum": ["2024-01-01", "not-a-date"]}}})
    got = {r["rid"]: r["verdict"] for r in plan.apply(df).collect()}
    assert got == {1: True, 2: False, 3: True}


def test_enum_decimal_and_huge_float_literals(spark):
    """ANSI trap, part 2: out-of-range literals on DECIMAL columns and
    JSON ints beyond double range must match nothing, not throw."""
    from decimal import Decimal

    df = spark.createDataFrame(
        [(1, Decimal("5.25"))], "rid: long, m: decimal(10,2)"
    )
    plan = ValidationEngine(
        {"properties": {"m": {"enum": [99999999999999999999, 5.25, 10 ** 400]}}}
    )
    assert plan.apply(df).collect()[0]["verdict"] is True
    plan2 = ValidationEngine({"properties": {"m": {"enum": [99999999999999999999]}}})
    assert plan2.apply(df).collect()[0]["verdict"] is False
