"""The keyword IR (``compiler/ir.py``): every mode refuses the same
malformed schemas at compile time, every check kind has a handler in
every backend, and the keyword semantics live in the IR alone. No
SparkSession is created."""

import ast
import copy
import pathlib
import re

import pytest

from schema_fantasy_spark import columnar, variant
from schema_fantasy_spark.columnar import compile_columnar
from schema_fantasy_spark.compiler import ir, plan
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
