"""Tier 1 — keyword conformance of the compiled validator (pure Python
kernel, the same closure the Arrow-batched dynamic mode executes).

Mirrors the reference's 3-level harness (reference test/test-suite.js:57-99)
over hand-authored draft-4 fixtures, strengthened from boolean-only to
error-path checking where marked.
"""

import json
import re

import jsonschema
import pytest
from referencing import Registry
from referencing.jsonschema import DRAFT4

from schema_fantasy_spark import compile_schema
from schema_fantasy_spark.compiler.plan import MAX_DEPTH, NestingError
from schema_fantasy_spark.errors import errs_to_rows, render_error

from tests.conftest import load_fixture_cases

CASES = load_fixture_cases()
IDS = [f"{g}:{f}:{c}" for g, f, c, *_ in CASES]


@pytest.mark.parametrize("group,feat,case,schema,refs,data,valid", CASES, ids=IDS)
def test_conformance(group, feat, case, schema, refs, data, valid):
    compiled = compile_schema(schema, refs=refs)
    errs = compiled.validate(data)
    assert (not errs) == valid, f"errors: {[render_error(e) for e in errs]}"


# Fixture cases on which jsonschema's Draft4Validator departs from the
# reference by design. Each is asserted to still depart, so the list
# stays exact; every other case must get the fixture's verdict from it.
JSONSCHEMA_DIVERGENCES = {
    ("type", "integer type matches integers", "a float with zero fraction is an integer"):
        "jsonschema's draft-4 'integer' excludes floats; JS cannot tell 1.0 from 1",
    ("minimum", "non-boolean exclusiveMinimum treated as false", "boundary point is valid"):
        "jsonschema treats any truthy exclusiveMinimum as true",
}


@pytest.mark.parametrize("group,feat,case,schema,refs,data,valid", CASES, ids=IDS)
def test_fixture_verdict_matches_jsonschema(group, feat, case, schema, refs, data, valid):
    """The fixtures are hand-authored from the draft-4 spec (the official
    suite is not vendored), so each expected verdict is checked against
    an independent implementation as well as against the kernel."""
    registry = Registry().with_resources(
        (url, DRAFT4.create_resource(doc)) for url, doc in refs.items()
    )
    validator = jsonschema.Draft4Validator(schema, registry=registry)
    if group == "pattern-annexb":
        # Annex B identity escapes (\p, dangling \u) are JS-only syntax;
        # Python's re, which jsonschema uses, rejects the pattern.
        with pytest.raises(re.error):
            validator.is_valid(data)
        return
    theirs = validator.is_valid(data)
    if (group, feat, case) in JSONSCHEMA_DIVERGENCES:
        assert theirs != valid, JSONSCHEMA_DIVERGENCES[(group, feat, case)]
    else:
        assert theirs == valid


def test_error_paths_nested():
    compiled = compile_schema(
        {"properties": {"a": {"items": {"properties": {"b": {"type": "string"}}}}}}
    )
    errs = compiled.validate({"a": [{"b": "ok"}, {"b": 3}]})
    assert len(errs) == 1
    assert errs[0].vpath == ("a", 1, "b")
    assert errs[0].keyword == "type"


def test_accumulation_no_short_circuit():
    # a value failing type + minLength + pattern yields all three errors
    # (reference index.js:56-63 applicative accumulation)
    compiled = compile_schema({"type": "number", "minLength": 10, "pattern": "^z"})
    errs = compiled.validate("abc")
    assert [e.keyword for e in errs] == ["type", "minLength", "pattern"]


def test_required_one_error_per_key():
    compiled = compile_schema({"required": ["a", "b", "c"]})
    errs = compiled.validate({"b": 1})
    assert [e.message for e in errs] == ["missing a", "missing c"]


def test_empty_schema_success():
    # reference test/test-smoke.js:67-77
    compiled = compile_schema({})
    assert compiled.is_valid({"anything": [1, 2, 3]})


def test_unknown_keyword_ignored():
    # reference test/test-smoke.js:57-65, index.js:73
    compiled = compile_schema({"frobnicate": 99, "type": "integer"})
    assert compiled.is_valid(3)
    assert not compiled.is_valid("x")


def test_minlength_nfc_normalization():
    # reference src/v4/minLength.js:18-22 normalizes NFC before counting:
    # "A" + COMBINING RING (2 code points) NFC-composes to U+00C5 (1).
    # Kernel-only semantics: the columnar/variant modes count raw code
    # points (documented divergence; route NFC-sensitive schemas here).
    decomposed = "A\u030a"  # 2 code points pre-NFC, 1 after
    assert len(decomposed) == 2
    compiled = compile_schema({"maxLength": 1})
    assert compiled.is_valid(decomposed)
    compiled2 = compile_schema({"minLength": 2})
    assert not compiled2.is_valid(decomposed)


_KERNEL_SCHEMA = {
    "definitions": {"node": {"type": "object", "properties": {
        "kids": {"type": "array", "items": {"$ref": "#/definitions/node"}},
        "tag": {"enum": ["a", 1, None, [1]], "pattern": "^[a-z]$"},
    }, "additionalProperties": False, "patternProperties": {"^x-": {"maxLength": 3}}}},
    "anyOf": [{"$ref": "#/definitions/node"}, {"type": "null"}],
    "dependencies": {"kids": ["tag"]},
}


def test_same_schema_same_source():
    """The generated source is the workers' kernel cache key: compiling a
    schema twice, or an equal copy of it, gives the same text."""
    first = compile_schema(_KERNEL_SCHEMA).source
    assert compile_schema(_KERNEL_SCHEMA).source == first
    assert compile_schema(json.loads(json.dumps(_KERNEL_SCHEMA))).source == first
    assert compile_schema({**_KERNEL_SCHEMA, "maxProperties": 3}).source != first


def test_recursive_schema_compiles_to_mutually_recursive_functions():
    """A $ref cycle becomes functions calling each other; errors found two
    levels down carry their full path, in schema-key order."""
    doc = {"kids": [{"kids": [{"tag": "zz", "x-1": "long"}]}]}
    rows = errs_to_rows(compile_schema(_KERNEL_SCHEMA).validate(doc))
    assert [(r["depth"], r["keyword"], "/".join(r["path"])) for r in rows] == [
        (0, "anyOf", ""),
        (1, "enum", "kids/0/kids/0/tag"),
        (1, "pattern", "kids/0/kids/0/tag"),
        (1, "maxLength", "kids/0/kids/0/x-1"),
        (1, "type", ""),
        (0, "dependencies", ""),
        (1, "dependencies", ""),
    ]


def test_nesting_budget():
    """The kernel looks inside containers at most MAX_DEPTH levels below
    the root; a deeper document raises NestingError (a RecursionError,
    which dynamic mode quarantines as one '$depth' row)."""
    compiled = compile_schema({"items": {"$ref": "#"}})

    def nested(k):
        doc = []
        for _ in range(k - 1):
            doc = [doc]
        return doc

    assert compiled.validate(nested(MAX_DEPTH)) == []
    with pytest.raises(NestingError):
        compiled.validate(nested(MAX_DEPTH + 1))
    assert issubclass(NestingError, RecursionError)


def test_vacuous_node_reached_through_a_cycle():
    """F never fails (its anyOf has a 'true' branch), but Y, compiled while
    F was in progress, calls F by name; validating through Y must work."""
    compiled = compile_schema({
        "definitions": {
            "F": {"anyOf": [{"$ref": "#/definitions/Y"}, True]},
            "Y": {"properties": {"a": {"$ref": "#/definitions/F"}}, "maxProperties": 1},
        },
        "properties": {"f": {"$ref": "#/definitions/F"}, "y": {"$ref": "#/definitions/Y"}},
    })
    assert compiled.validate({"f": 1, "y": {"a": {"b": 1}}}) == []
    assert [(e.keyword, e.vpath) for e in compiled.validate({"y": {"a": 1, "b": 2}})] == [
        ("maxProperties", ("y",))]
