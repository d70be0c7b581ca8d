"""Error rendering parity with the reference's Err.toString
(reference src/err.js:22-63) and linker/pointer behavior
(reference src/linker.js, src/context.js, src/url.js)."""

import pytest

from schema_fantasy_spark import compile_schema
from schema_fantasy_spark.errors import (
    COMPOUND,
    SINGLE,
    VALUES,
    Err,
    errs_to_rows,
    human_list,
    render_error,
)
from schema_fantasy_spark.compiler.linker import (
    CyclicRefError,
    UnknownResourceError,
    link,
    refs_in,
)
from schema_fantasy_spark.compiler.pointer import unescape_token, walk_pointer


def test_render_single_with_path():
    e = Err(SINGLE, "minLength", "shorter than 5 characters", ("a", 0))
    assert render_error(e) == "a/0: shorter than 5 characters"


def test_render_single_empty_path_compacted():
    e = Err(SINGLE, "minLength", "shorter than 5 characters", ())
    assert render_error(e) == "shorter than 5 characters"


def test_render_values():
    e = Err(VALUES, "type", "Invalid type", ("x",), "integer or string", "array")
    assert render_error(e) == "x: Invalid type: expected integer or string, was array"


def test_render_values_empty_message():
    # enum uses message "" — compact join drops it (reference src/v4/enum.js:34)
    e = Err(VALUES, "enum", "", (), "1, 2 or 3", "4")
    assert render_error(e) == "expected 1, 2 or 3, was 4"


def test_render_compound():
    child = Err(SINGLE, "required", "missing foo", ())
    e = Err(COMPOUND, "allOf", "Not all conditions valid", (), children=[child])
    assert render_error(e) == "Not all conditions valid: 1 error found\nmissing foo"


def test_render_compound_plural():
    kids = [Err(SINGLE, "required", f"missing {k}", ()) for k in "ab"]
    e = Err(COMPOUND, "allOf", "Not all conditions valid", (), children=kids)
    assert render_error(e).startswith("Not all conditions valid: 2 errors found\n")


def test_human_list():
    assert human_list("or", []) == ""
    assert human_list("or", ["a"]) == "a"
    assert human_list("or", ["a", "b"]) == "a or b"
    assert human_list("and", ["a", "b", "c"]) == "a, b and c"


def test_reference_message_strings_end_to_end():
    # exact message-string parity on a few compiled validations
    cases = [
        ({"minimum": 5}, 3, "less than 5"),
        ({"minimum": 5, "exclusiveMinimum": True}, 5, "less than or equal to 5"),
        ({"maximum": 5}, 7, "greater than 5"),
        ({"multipleOf": 3}, 7, "not a multiple of 3"),
        ({"pattern": "^a"}, "b", "does not match /^a/"),
        ({"minItems": 2}, [1], "less than 2 items"),
        ({"maxItems": 1}, [1, 2], "more than 1 items"),
        ({"minLength": 2}, "a", "shorter than 2 characters"),
        ({"maxLength": 1}, "ab", "longer than 1 characters"),
        ({"minProperties": 1}, {}, "less than 1 properties"),
        ({"maxProperties": 0}, {"a": 1}, "more than 0 properties"),
        ({"not": {}}, 1, "condition valid"),
        ({"uniqueItems": True}, [1, 1], "does not contain unique values: 1 duplicate found"),
        ({"uniqueItems": True}, [1, 1, 2, 2], "does not contain unique values: 2 duplicates found"),
    ]
    for schema, value, want in cases:
        errs = compile_schema(schema).validate(value)
        assert len(errs) == 1 and errs[0].message == want, (schema, value, errs)


def test_additional_properties_messages():
    errs = compile_schema({"additionalProperties": False}).validate({"x": 1, "y": 2})
    assert errs[0].message == "additional properties found: x and y"
    errs = compile_schema({"additionalProperties": False}).validate({"x": 1})
    assert errs[0].message == "additional property found: x"
    errs = compile_schema({"additionalProperties": {"type": "integer"}}).validate({"x": "s"})
    assert errs[0].message == "additional property invalid: x"
    assert errs[0].children[0].vpath == ("x",)


def test_dependencies_messages():
    errs = compile_schema({"dependencies": {"bar": ["foo"]}}).validate({"bar": 1})
    assert errs[0].message == 'Missing dependency for "bar"'
    assert errs[0].children[0].message == 'Missing "foo" given "bar"'
    errs = compile_schema({"dependencies": {"bar": ["foo", "baz"]}}).validate({"bar": 1})
    assert errs[0].message == 'Missing dependencies for "bar"'


def test_errs_to_rows_flatten():
    child = Err(SINGLE, "type", "Invalid type", ("a",))
    e = Err(COMPOUND, "allOf", "Not all conditions valid", (), children=[child])
    rows = errs_to_rows([e])
    assert [r["depth"] for r in rows] == [0, 1]
    assert rows[1]["path"] == ["a"]


# (schema, value, [(path, keyword, depth), ...]) — the flattened row shape
# the Spark modes emit: paths point at the failing value, compound errors
# come before their children, and errors accumulate without short-circuit.
ROW_SHAPES = [
    ({"type": "string"}, 3, [([], "type", 0)]),
    ({"items": {"type": "integer"}}, [1, "x", 2, "y"],
     [(["1"], "type", 0), (["3"], "type", 0)]),
    ({"items": [{"type": "integer"}], "additionalItems": False}, [1, 2],
     [(["1"], "items", 0)]),
    ({"properties": {"a": {"items": {"minimum": 0}}}}, {"a": [0, -1]},
     [(["a", "1"], "minimum", 0)]),
    ({"patternProperties": {"^x": {"type": "string"}}}, {"x1": 1, "y": 1},
     [(["x1"], "type", 0)]),
    ({"additionalProperties": {"type": "string"}}, {"b": 2},
     [([], "additionalProperties", 0), (["b"], "type", 1)]),
    ({"required": ["a", "b"]}, {}, [([], "required", 0), ([], "required", 0)]),
    ({"dependencies": {"a": ["b"]}}, {"a": 1},
     [([], "dependencies", 0), ([], "dependencies", 1)]),
    ({"dependencies": {"a": {"required": ["c"]}}}, {"a": 1},
     [([], "dependencies", 0), ([], "required", 1)]),
    ({"allOf": [{"type": "string"}, {"minimum": 2}]}, 1,
     [([], "allOf", 0), ([], "type", 1), ([], "minimum", 1)]),
    ({"anyOf": [{"type": "string"}, {"minimum": 2}]}, 1,
     [([], "anyOf", 0), ([], "type", 1), ([], "minimum", 1)]),
    ({"oneOf": [{"type": "string"}, {"minimum": 2}]}, 1,
     [([], "oneOf", 0), ([], "type", 1), ([], "minimum", 1)]),
    ({"oneOf": [{"type": "integer"}, {"minimum": 0}]}, 1, [([], "oneOf", 0)]),
    ({"not": {"type": "integer"}}, 1, [([], "not", 0)]),
    ({"properties": {"a": {"allOf": [{"properties": {"b": {"type": "null"}}}]}}},
     {"a": {"b": 1}}, [(["a"], "allOf", 0), (["a", "b"], "type", 1)]),
    ({"definitions": {"p": {"type": "integer"}},
      "properties": {"a": {"$ref": "#/definitions/p"}}}, {"a": "x"},
     [(["a"], "type", 0)]),
    ({"type": "string", "minLength": 3, "properties": {"a": {}}}, "ab",
     [([], "minLength", 0)]),
]


@pytest.mark.parametrize(
    "schema,value,want", ROW_SHAPES, ids=[str(i) for i in range(len(ROW_SHAPES))]
)
def test_error_row_shape(schema, value, want):
    rows = errs_to_rows(compile_schema(schema).validate(value))
    assert [(r["path"], r["keyword"], r["depth"]) for r in rows] == want


# ------------------------------------------------------------------- linker


def test_unescape_rfc6901():
    # RFC-correct, documented divergence from reference src/url.js:39-41
    assert unescape_token("a~1b") == "a/b"
    assert unescape_token("a~0b") == "a~b"
    assert unescape_token("~01") == "~1"  # the reference quirk would mangle this


def test_walk_pointer():
    doc = {"a": {"b": [10, {"c": 1}]}}
    assert walk_pointer(doc, "/a/b/1/c") == 1
    assert walk_pointer(doc, "") == doc


def test_refs_in_resolves_against_top_level_id():
    doc = {
        "id": "http://example.com/root.json",
        "properties": {
            "a": {"$ref": "other.json#/definitions/x"},
            "b": {"$ref": "#/definitions/local"},
            "c": {"$ref": "http://elsewhere.org/abs.json"},
        },
    }
    assert refs_in(doc) == [
        "http://example.com/other.json",
        "http://elsewhere.org/abs.json",
    ]


def test_link_transitive_with_cycle():
    # modeled on the reference's "fake internet" with circular refs
    # (reference test/test-linker.js:61-116) — dedup breaks the cycle
    universe = {
        "http://x/a": {"id": "http://x/a", "properties": {"b": {"$ref": "http://x/b"}}},
        "http://x/b": {"id": "http://x/b", "properties": {"a": {"$ref": "http://x/a"}}},
    }
    fetched = []

    def fetch(url):
        fetched.append(url)
        return universe[url]

    refs, root = link(fetch, "http://x/a")
    assert set(refs) == {"http://x/a", "http://x/b"}
    assert fetched == ["http://x/a", "http://x/b"]  # each fetched exactly once


def test_unknown_resource_raises():
    with pytest.raises(UnknownResourceError):
        compile_schema({"$ref": "http://nowhere/void.json"})


@pytest.mark.parametrize("schema", [
    # a bare chain (reference test/test-smoke.js:194-226 semantics)
    {"definitions": {"a": {"$ref": "#/definitions/b"}, "b": {"$ref": "#/definitions/a"}},
     "$ref": "#/definitions/a"},
    # in place: the cycle checks the same value again through a combinator
    {"allOf": [{"$ref": "#"}]},
    {"not": {"$ref": "#"}},
    {"anyOf": [{"type": "string"}, {"$ref": "#"}]},
    {"oneOf": [{"type": "string"}, {"$ref": "#"}]},
    {"dependencies": {"a": {"$ref": "#"}}},
    {"definitions": {"a": {"allOf": [{"$ref": "#/definitions/b"}]},
                     "b": {"allOf": [{"$ref": "#/definitions/a"}]}},
     "properties": {"x": {"$ref": "#/definitions/a"}}},
], ids=["chain", "allOf", "not", "anyOf", "oneOf", "dependencies", "two-definitions"])
def test_cyclic_ref_raises_in_every_mode(schema):
    from schema_fantasy_spark.columnar import compile_columnar
    from schema_fantasy_spark.engine import ValidationEngine

    with pytest.raises(CyclicRefError):
        compile_schema(schema)
    with pytest.raises(CyclicRefError):
        compile_columnar(schema)
    with pytest.raises(CyclicRefError):
        ValidationEngine(schema, mode="dynamic")


@pytest.mark.parametrize("schema,doc,rendered", [
    ({"properties": {"a": {"$ref": "#"}}, "required": ["b"]}, {"a": {"a": {"b": 1}}},
     ["a: missing b", "missing b"]),
    ({"items": {"$ref": "#"}, "maxItems": 1}, [[[1, 2]]], ["0/0: more than 1 items"]),
    ({"additionalProperties": {"$ref": "#"}, "type": "object"}, {"a": {"b": 1}},
     ["additional property invalid: a: 1 error found\n"
      "a: additional property invalid: b: 1 error found\n"
      "a/b: Invalid type: expected object, was number"]),
    ({"patternProperties": {"^a": {"$ref": "#"}}, "minProperties": 1}, {"a": {"aa": {}}},
     ["a/aa: less than 1 properties"]),
], ids=["properties", "items", "additionalProperties", "patternProperties"])
def test_ref_to_root_below_a_value_compiles(schema, doc, rendered):
    """A $ref to the root that descends into the value first recurses
    only as deep as the document."""
    errs = compile_schema(schema).validate(doc)
    assert [render_error(e) for e in errs] == rendered
