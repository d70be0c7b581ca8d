"""The kernel's error rows against the golden rows of
``tests/fixtures/kernel_golden.json`` (written by
``tests/fixtures/gen_kernel_golden.py``): every draft-4 fixture case, the
fast-path edges and 90 ``json_docs`` documents must give the same rows, in
the same order, with the same paths, messages and values."""

import json
import sys

import pyarrow as pa
import pytest

from perfbench.inputs import DOCS_SCHEMA
from schema_fantasy_spark import compile_schema, dynamic
from schema_fantasy_spark.compiler.plan import MAX_DEPTH, generate_source
from schema_fantasy_spark.errors import errs_to_rows
from tests.conftest import load_fixture_cases
from tests.fixtures.gen_kernel_golden import EDGES, OUT, edge_result

with open(OUT) as f:
    GOLDEN = json.load(f)

CASES = load_fixture_cases()
IDS = [f"{g}:{f}:{c}" for g, f, c, *_ in CASES]
DRAFT4 = {case["id"]: case["rows"] for case in GOLDEN["draft4"]}
EDGE_ROWS = {case["id"]: case["rows"] for case in GOLDEN["edges"]}


def test_golden_covers_every_case():
    assert sorted(DRAFT4) == sorted(IDS)
    assert sorted(EDGE_ROWS) == sorted(name for name, *_ in EDGES)
    assert [d["id"] for d in GOLDEN["docs"]] == list(range(90))


@pytest.mark.parametrize("group,feat,case,schema,refs,data,valid", CASES, ids=IDS)
def test_draft4_rows(group, feat, case, schema, refs, data, valid):
    rows = errs_to_rows(compile_schema(schema, refs=refs).validate(data))
    assert rows == DRAFT4[f"{group}:{feat}:{case}"]


@pytest.mark.parametrize("name,schema,make", EDGES, ids=[name for name, *_ in EDGES])
def test_edge_rows(name, schema, make):
    assert edge_result(schema, make()) == EDGE_ROWS[name]


@pytest.mark.parametrize("orjson", [True, False], ids=["orjson", "json"])
def test_docs_rows(monkeypatch, orjson):
    """The rows the kernel UDF computes for one batch of ``json_docs``
    documents, with and without orjson."""
    if not orjson:
        monkeypatch.setitem(sys.modules, "orjson", None)
    docs = pa.array([d["doc"] for d in GOLDEN["docs"]], pa.string())
    rows = dynamic.validate_batch(compile_schema(DOCS_SCHEMA).source, docs)
    assert rows == [d["rows"] for d in GOLDEN["docs"]]
    # every injection residue is among the invalid documents, three times
    assert sum(1 for r in rows if r) == 30


def test_docs_kernel_loops_over_undeclared_keys_only():
    """No declared property of DOCS_SCHEMA matches its '^x-' pattern, so
    the root's patternProperties and additionalProperties look only at
    the keys outside ``properties``."""
    source = generate_source(DOCS_SCHEMA)
    assert "filter(" not in source
    assert "for k in u:" in source


def test_declared_key_matching_a_pattern_keeps_the_loop_over_every_key():
    schema = {name: schema for name, schema, _ in EDGES}["declared key matches a pattern"]
    source = generate_source(schema)
    assert "filter(" in source and "u = " not in source


def _deep_array(depth: int) -> str:
    return "[" * depth + "]" * depth


@pytest.mark.parametrize("depth", [400, MAX_DEPTH + 1])
def test_enum_rows_do_not_depend_on_the_recursion_limit(monkeypatch, depth):
    """enum compares canonical forms and renders ``actual`` without
    recursing: the rows of a deep value are the same under any recursion
    limit, and a value nested past MAX_DEPTH is one '$depth' row."""
    monkeypatch.setitem(sys.modules, "orjson", None)  # json.loads reads both depths
    source = generate_source({"enum": [[1]]})
    docs = pa.array([_deep_array(depth)], pa.string())
    limit = sys.getrecursionlimit()
    try:
        by_limit = []
        for n in (1000, 5000):
            sys.setrecursionlimit(n)
            by_limit.append(dynamic.validate_batch(source, docs))
    finally:
        sys.setrecursionlimit(limit)
    assert by_limit[0] == by_limit[1]
    (row,) = by_limit[0][0]
    if depth > MAX_DEPTH:
        assert row["keyword"] == "$depth"
    else:
        assert (row["keyword"], row["actual"]) == ("enum", _deep_array(depth))
