"""The keyword IR (``compiler/ir.py``): every mode refuses the same
malformed schemas at compile time, every check kind has a handler in
every backend, and the keyword semantics live in the IR alone. No
SparkSession is created."""

import ast
import copy
import math
import pathlib
import random
import re

import pytest

from schema_fantasy_spark import columnar, variant
from schema_fantasy_spark.columnar import compile_columnar
from schema_fantasy_spark.compiler import ir, plan
from schema_fantasy_spark.compiler.linker import LinkerError
from schema_fantasy_spark.compiler.pointer import PointerError
from schema_fantasy_spark.compiler.plan import (
    SchemaCompileError,
    compile_schema,
    generate_source,
)
from schema_fantasy_spark.variant import compile_variant

MODES = [compile_schema, compile_columnar, compile_variant]

MALFORMED = [
    {"multipleOf": 0}, {"multipleOf": -2}, {"multipleOf": "2"}, {"multipleOf": True},
    {"minimum": True}, {"maximum": None}, {"minimum": [1]}, {"maximum": {"a": 1}},
    {"minLength": "2"}, {"maxLength": -1}, {"minItems": 1.5}, {"maxItems": None},
    {"minProperties": True}, {"maxProperties": "3"},
    {"required": "abc"}, {"required": [1]}, {"required": {"a": 1}},
    {"enum": 5}, {"enum": "ab"}, {"enum": {"a": 1}},
    {"properties": []}, {"patternProperties": "x"}, {"dependencies": 3},
    {"additionalProperties": 5}, {"additionalProperties": None},
    {"items": [], "additionalItems": "no"}, {"additionalItems": 1},
    {"type": {"a": 1}}, {"type": 5}, {"type": ["string", 1]}, {"type": [None]},
    {"pattern": 5}, {"pattern": None}, {"pattern": ["^a"]},
    {"allOf": 3}, {"anyOf": {"a": {}}}, {"oneOf": "ab"}, {"allOf": None},
    # found wherever the malformed value sits
    {"properties": {"a": {"minLength": "2"}}}, {"allOf": [{"enum": 5}]},
    {"definitions": {"d": {"maxItems": None}}, "items": {"$ref": "#/definitions/d"}},
]


@pytest.mark.parametrize("schema", MALFORMED, ids=repr)
@pytest.mark.parametrize("compile_", MODES, ids=lambda f: f.__name__)
def test_malformed_keyword_value_rejected_in_every_mode(compile_, schema):
    with pytest.raises(SchemaCompileError):
        compile_(schema)


@pytest.mark.parametrize("schema", [
    {"minimum": 1, "exclusiveMinimum": "yes"},  # pinned: a non-boolean reads as false
    {"maximum": "2030-01-01 00:00:00"},  # a date/timestamp bound (columnar extension)
    {"multipleOf": 0.5, "minLength": 0, "required": [], "enum": []},
    {"uniqueItems": 0, "items": True, "additionalItems": {}},
    {"type": "no-such-type"}, {"type": []},  # an unknown type name stays legal
    {"allOf": [], "anyOf": [], "oneOf": []},
], ids=repr)
@pytest.mark.parametrize("compile_", MODES, ids=lambda f: f.__name__)
def test_wellformed_edge_values_compile_in_every_mode(compile_, schema):
    compile_(schema)


#: every draft-4 keyword, $ref included
ALL_KEYWORDS = {
    "definitions": {"pos": {"type": "integer", "minimum": 0, "exclusiveMinimum": True}},
    "type": "object",
    "required": ["id"],
    "minProperties": 1,
    "maxProperties": 9,
    "properties": {
        "id": {"$ref": "#/definitions/pos"},
        "n": {"type": "number", "maximum": 100, "exclusiveMaximum": False, "multipleOf": 0.5},
        "s": {"minLength": 1, "maxLength": 8, "pattern": "^[a-z]", "enum": ["a", "ab"]},
        "arr": {"items": {"type": "integer"}, "minItems": 1, "maxItems": 4, "uniqueItems": True},
        "tup": {"items": [{"type": "string"}], "additionalItems": False},
    },
    "patternProperties": {"^x-": {"type": "string"}},
    "additionalProperties": {"type": "boolean"},
    "dependencies": {"n": ["s"], "s": {"required": ["id"]}},
    "allOf": [{"minProperties": 1}],
    "anyOf": [{"required": ["id"]}, {"required": ["n"]}],
    "oneOf": [{"required": ["id"]}, {"required": ["zz"]}],
    "not": {"required": ["forbidden"]},
}


def test_every_check_kind_has_a_handler_in_every_backend():
    kinds = set(ir.CHECKS)
    assert kinds == {k for k in vars(ir).values()
                     if isinstance(k, type) and issubclass(k, ir.Check) and k is not ir.Check}
    assert set(plan._Generator.HANDLERS) == kinds
    assert set(columnar._EMITTERS) == kinds
    assert set(variant._EMITTERS) == kinds
    root = ir.lower(ALL_KEYWORDS)
    assert {type(c) for node in ir.reachable(root) for c in node.checks} == kinds
    for compile_ in MODES:
        compile_(ALL_KEYWORDS)


def test_all_keywords_generate_the_same_source_twice():
    source = generate_source(ALL_KEYWORDS)
    assert generate_source(ALL_KEYWORDS) == source
    assert generate_source(copy.deepcopy(ALL_KEYWORDS)) == source
    kernel = compile_schema(ALL_KEYWORDS)
    assert kernel.is_valid({"id": 1, "n": 2.5, "s": "ab", "x-a": "y", "z": True})
    assert {e.keyword for e in kernel.validate({"id": 0, "n": 1, "z": 1})} == {
        "minimum", "additionalProperties", "dependencies"}


def test_recursive_schema_lowers_to_a_cycle():
    schema = {"properties": {"kid": {"$ref": "#"}}}
    root = ir.lower(schema)
    (check,) = root.checks
    assert check.entries[0][1] is root
    assert list(ir.reachable(root)) == [root]


PACKAGE = pathlib.Path(ir.__file__).parents[1]
MESSAGES = ["Invalid type", "shorter than", "does not match /", "additional item found",
            "Missing dependenc", "Not all conditions valid", "No conditions valid"]


def test_keyword_semantics_live_in_the_ir():
    sources = {p.relative_to(PACKAGE).as_posix(): p.read_text()
               for p in PACKAGE.rglob("*.py")}
    for msg in MESSAGES:
        assert [name for name, src in sources.items() if msg in src] == ["compiler/ir.py"], msg
    callers = {name for name, src in sources.items() if re.search(r"\bresolve_ref\(", src)}
    assert callers and all(name.startswith("compiler/") for name in callers)
    keywords = set(ir._KEYWORDS) | {"$ref"}
    for backend in ("compiler/plan.py", "columnar.py", "variant.py"):
        strings = {node.value for node in ast.walk(ast.parse(sources[backend]))
                   if isinstance(node, ast.Constant) and isinstance(node.value, str)}
        assert not strings & keywords, (backend, strings & keywords)


@pytest.mark.parametrize("text,number", [
    ("10", 10), (" 10 ", 10), ("", 0), ("0x10", 16), ("1e3", 1000),
    ("2030-01-01 00:00:00", math.nan),
    # ECMA-262 StringToNumber past the cases above, also from node v20
    ("\u00a0\ufeff7\n", 7), (".5", 0.5), ("5.", 5), ("+1.5e2", 150), ("0b11", 3),
    ("0O17", 15), ("Infinity", math.inf), ("-Infinity", -math.inf), ("1e400", math.inf),
    ("-0x10", math.nan), ("1_0", math.nan), ("inf", math.nan), ("0x", math.nan),
    ("\u0663", math.nan), ("1 2", math.nan),
], ids=repr)
def test_js_number_matches_node(text, number):
    got = ir.js_number(text)
    assert got == number or (math.isnan(got) and math.isnan(number))


@pytest.mark.parametrize("limit,ok,bad", [
    ("10", 10, 10.5), (" 10 ", -3, 11), ("", 0, 0.1), ("0x10", 16, 17), ("1e3", 1000, 1001),
    ("2030-01-01 00:00:00", None, 5),  # NaN: every number fails the bound
])
def test_string_maximum_compares_as_js_number(limit, ok, bad):
    """A string ``maximum`` meets a JSON number as JS ``Number(limit)``,
    the reference's ``value <= max``; other types pass vacuously."""
    kernel = compile_schema({"maximum": limit})
    if ok is not None:
        assert kernel.validate(ok) == []
    assert [e.keyword for e in kernel.validate(bad)] == ["maximum"]
    assert kernel.validate("2031-01-01") == []


def test_pages_schema_rejects_a_numeric_warc_ts():
    """PAGES_SCHEMA bounds warc_ts by a timestamp string: a document whose
    warc_ts is a JSON number gets a maximum error, never an exception."""
    from schema_fantasy_spark.sources.pages import PAGES_SCHEMA

    errs = compile_schema(PAGES_SCHEMA).validate({"url": "https://a", "warc_ts": 5, "text": "x"})
    assert [(e.keyword, e.vpath) for e in errs] == [("maximum", ("warc_ts",))]


#: every keyword the IR reads, the exclusive flags its bounds read, and $ref
HOSTILE_KEYWORDS = sorted(ir._KEYWORDS) + ["exclusiveMaximum", "exclusiveMinimum", "$ref"]
#: two values of each JSON type
JSON_TYPES = {
    "null": [None, None], "boolean": [True, False], "number": [-1, 2.5],
    "string": ["", "#/x"], "array": [[], [1, "a", None]], "object": [{}, {"a": 1, "b": []}],
}


def _json_value(rng: random.Random, depth: int = 0):
    """A random JSON value, nested at most 3 levels."""
    kind = rng.choice(list(JSON_TYPES)[: 4 if depth >= 3 else 6])
    if kind == "null":
        return None
    if kind == "boolean":
        return rng.random() < 0.5
    if kind == "number":
        return rng.choice([0, -7, 3, 2 ** 40, 0.5, -1e300, 10.0])
    if kind == "string":
        return rng.choice(["", "a", "ab1", "\u00e9t\u00e9", "2030-01-01", "a" * 70])
    if kind == "array":
        return [_json_value(rng, depth + 1) for _ in range(rng.randrange(4))]
    return {rng.choice("abk"): _json_value(rng, depth + 1) for _ in range(rng.randrange(4))}


def _hostile_docs(seed: int):
    rng = random.Random(seed)
    docs = [v for values in JSON_TYPES.values() for v in values]
    docs += [_json_value(rng) for _ in range(24)]
    return docs + [{"k": d} for d in docs]


@pytest.mark.parametrize("json_type", sorted(JSON_TYPES))
@pytest.mark.parametrize("keyword", HOSTILE_KEYWORDS)
def test_hostile_keyword_value_compiles_or_refuses(keyword, json_type):
    """Any keyword with a value of any JSON type: every mode compiles the
    schema or raises SchemaCompileError (a $ref may also name nothing),
    and a compiled kernel returns error rows for every document."""
    refused = (SchemaCompileError,) + ((LinkerError, PointerError) if keyword == "$ref" else ())
    for seed, value in enumerate(JSON_TYPES[json_type]):
        leaf = {keyword: value}
        if keyword.startswith("exclusive"):
            leaf["m" + keyword[10:]] = 1  # beside the bound it qualifies
        for schema in (leaf, {"properties": {"k": leaf}, "items": leaf}):
            for compile_ in MODES:
                try:
                    compiled = compile_(schema)
                except refused:
                    continue
                if compile_ is compile_schema:
                    for doc in _hostile_docs(seed):
                        errs = compiled.validate(doc)
                        assert isinstance(errs, list), (schema, doc)
                        assert compiled.is_valid(doc) == (errs == []), (schema, doc)
