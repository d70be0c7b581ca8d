"""Golden error rows of the dynamic-mode kernel, pinned so that a change to
the generated source shows up as a change of rows, not of text.

Three sets, each with the full rows (``errors.errs_to_rows``):

* ``draft4``: every case of the draft-4 fixtures (``tests/fixtures/draft4``),
  by ``group:feature:case`` id, through ``CompiledSchema.validate``;
* ``edges``: the values in :data:`EDGES`, which sit on the edges of the
  kernel's fast paths (class identity, ASCII lengths, all-string
  ``uniqueItems``, key loops over undeclared keys) and of the nesting cap
  (``"NestingError"`` in place of the rows);
* ``docs``: ids 0-89 of ``perfbench.inputs.json_docs`` at seed 1 under
  ``DOCS_SCHEMA`` (every injection residue three times), the documents
  as text and their rows as the dynamic-mode UDF computes them
  (``dynamic.validate_batch``).

Run once, from the repository root (the ``docs`` set starts a local Spark
session): ``python tests/fixtures/gen_kernel_golden.py``. It writes
``tests/fixtures/kernel_golden.json``. Regenerate only when the rows are
meant to change.
"""

import enum
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
OUT = os.path.join(HERE, "kernel_golden.json")
DOC_IDS = 90

if __name__ == "__main__":  # run as a script: the package is at the repository root
    sys.path.insert(0, ROOT)

import pyarrow as pa  # noqa: E402

from perfbench.inputs import DOCS_SCHEMA, json_docs  # noqa: E402
from schema_fantasy_spark import compile_schema, dynamic  # noqa: E402
from schema_fantasy_spark.compiler.plan import NestingError  # noqa: E402
from schema_fantasy_spark.errors import errs_to_rows  # noqa: E402
from schema_fantasy_spark.sources.pages import PAGES_SCHEMA  # noqa: E402


class Level(enum.IntEnum):
    LOW = 1
    HIGH = 7


class Doc(dict):
    """A dict subclass: the kernel reads it as a JSON object."""


class Text(str):
    """A str subclass: the kernel reads it as a JSON string."""


class Seq(list):
    """A list subclass: the kernel reads it as a JSON array."""


def _deep_seq(depth: int) -> Seq:
    """A list subclass holding ``depth - 1`` nested plain lists."""
    x: list = []
    for _ in range(depth - 1):
        x = [x]
    return Seq(x)


_OBJ = {"properties": {"a": {"type": "integer"}, "bb": {"maxLength": 1}},
        "patternProperties": {"^x-": {"type": "string"}, "-n$": {"minimum": 0}},
        "additionalProperties": {"type": "boolean"}}
_DECLARED_MATCH = {"properties": {"x-a": {"type": "string"}, "b": {"type": "integer"}},
                   "patternProperties": {"^x-": {"maxLength": 2}},
                   "additionalProperties": False}

#: (name, schema, value factory): the values a JSON parser cannot give
#: (subclasses, NaN) are built by the factory, here and in the test
EDGES = [
    ("true under integer", {"type": "integer"}, lambda: True),
    ("true under number", {"type": "number"}, lambda: True),
    ("false under number with bounds", {"type": "number", "minimum": 0}, lambda: False),
    ("1.0 under integer", {"type": "integer", "minimum": 1}, lambda: 1.0),
    ("1.5 under integer", {"type": "integer", "minimum": 1}, lambda: 1.5),
    ("nan under minimum", {"minimum": 0}, lambda: math.nan),
    ("nan under maximum", {"type": "number", "maximum": 0}, lambda: math.nan),
    ("inf under maximum", {"maximum": 10}, lambda: math.inf),
    ("-inf under minimum", {"type": "number", "minimum": -10}, lambda: -math.inf),
    ("inf under minimum", {"minimum": -10, "maximum": 10}, lambda: math.inf),
    ("true under bounds", {"minimum": 5, "maximum": 0}, lambda: True),
    ("IntEnum under integer bounds", {"type": "integer", "minimum": 5}, lambda: Level.LOW),
    ("IntEnum passing", {"type": "integer", "minimum": 5, "multipleOf": 7},
     lambda: Level.HIGH),
    ("IntEnum under enum", {"enum": [7, "x"]}, lambda: Level.HIGH),
    ("IntEnum items", {"items": {"type": "integer", "maximum": 3}, "uniqueItems": True},
     lambda: [Level.LOW, Level.HIGH, 1]),
    ("dict subclass", _OBJ, lambda: Doc({"a": "x", "bb": "yy", "x-1": 2, "q-n": -1, "z": 1})),
    ("dict subclass passing", {"type": "object", "required": ["a"],
                               "properties": {"a": {"type": "integer"}}},
     lambda: Doc({"a": 1})),
    ("dict subclass under enum", {"enum": [{"a": [1]}]}, lambda: Doc({"a": [1.0]})),
    ("str subclass under pattern", {"type": "string", "pattern": "^a"}, lambda: Text("ba")),
    ("str subclass under enum", {"enum": ["ba"]}, lambda: Text("ba")),
    ("decomposed under maxLength 1", {"maxLength": 1}, lambda: "e\u0301"),
    ("decomposed under minLength 2", {"type": "string", "minLength": 2}, lambda: "e\u0301"),
    ("ascii under maxLength", {"maxLength": 2}, lambda: "abc"),
    ("astral under maxLength", {"maxLength": 1}, lambda: "\U0001f600"),
    ("uniqueItems 1 and 1.0", {"uniqueItems": True}, lambda: [1, 1.0]),
    ("uniqueItems '1' and 1", {"uniqueItems": True}, lambda: ["1", 1]),
    ("uniqueItems true and 1", {"uniqueItems": True}, lambda: [True, 1, 1.0]),
    ("uniqueItems all strings", {"uniqueItems": True}, lambda: ["a", "b", "a", "a", "c"]),
    ("uniqueItems distinct strings", {"type": "array", "uniqueItems": True},
     lambda: ["a", "b", "c"]),
    ("uniqueItems str subclass", {"uniqueItems": True}, lambda: [Text("a"), "a"]),
    ("uniqueItems nested", {"uniqueItems": True}, lambda: [[1, {"a": 1}], [1.0, {"a": 1.0}]]),
    ("overlapping patterns", _OBJ, lambda: {"x-n": -1, "x-m": 5, "y-n": "s", "a": 1}),
    ("overlapping patterns passing", _OBJ, lambda: {"x-n": "1", "y": True, "a": 2}),
    ("additional schema fails", _OBJ, lambda: {"p": 1, "q": "s", "bb": "ok", "x-q": 1}),
    ("declared key matches a pattern", _DECLARED_MATCH,
     lambda: {"x-a": "long", "b": 1.5, "x-bb": "abc", "c": 1}),
    ("declared key matches, valid", _DECLARED_MATCH, lambda: {"x-a": "ok", "b": 2}),
    ("patterns without properties", {"patternProperties": {"^a": {"type": "string"}},
                                     "additionalProperties": False},
     lambda: {"ab": 1, "b": 2, "ac": "x"}),
    ("additionalProperties without patterns",
     {"properties": {"a": {}}, "additionalProperties": {"type": "string"}},
     lambda: {"b": 1, "a": 2, "c": "x", "d": None}),
    ("tuple items", {"items": [{"type": "number", "minimum": 0}, {"maximum": 1}],
                     "additionalItems": False},
     lambda: [True, math.nan, 3, 4]),
    ("oneOf by type", {"oneOf": [{"type": "string", "minLength": 1},
                                 {"type": "object", "required": ["p"]}]},
     lambda: [""]),
    ("oneOf both", {"oneOf": [{"type": "string"}, {"maxLength": 3}]}, lambda: "ab"),
    ("anyOf nan", {"anyOf": [{"type": "number", "maximum": 1}, {"type": "null"}]},
     lambda: math.nan),
    # nested past MAX_DEPTH: refused before the kernel runs, whatever the schema
    ("anyOf passes before a deep enum", {"anyOf": [{"type": "array"}, {"enum": [[1]]}]},
     lambda: _deep_seq(600)),
    ("not enum", {"not": {"enum": ["a", 1]}}, lambda: 1.0),
    ("not type", {"not": {"type": "integer"}}, lambda: 2.0),
    ("allOf", {"allOf": [{"type": "string"}, {"pattern": "^a"}, {"maxLength": 2}]},
     lambda: "bcd"),
    ("pages valid", PAGES_SCHEMA, lambda: {"url": "https://a.example/x", "lang": "en",
                                           "warc_ts": "2024-01-01 00:00:00", "text": "hi"}),
    ("pages numeric warc_ts", PAGES_SCHEMA, lambda: {"url": "https://a", "warc_ts": 5,
                                                     "text": "x"}),
    ("pages bad fields", PAGES_SCHEMA, lambda: {"url": "ftp://a", "warc_ts": "2024-01-01",
                                                "text": "", "lang": "xx"}),
    ("pages missing fields", PAGES_SCHEMA, lambda: {"text": None, "lang": None}),
    ("pages long url", PAGES_SCHEMA, lambda: {"url": "https://" + "\u00e9" * 2041,
                                              "warc_ts": "2024", "text": "e\u0301"}),
]


def draft4_rows() -> list:
    from tests.conftest import load_fixture_cases

    return [{"id": f"{g}:{f}:{c}",
             "rows": errs_to_rows(compile_schema(schema, refs=refs).validate(data))}
            for g, f, c, schema, refs, data, _ in load_fixture_cases()]


def edge_result(schema, value):
    """The rows of ``value`` under ``schema``, or ``"NestingError"`` for a
    value nested deeper than MAX_DEPTH."""
    try:
        return errs_to_rows(compile_schema(schema).validate(value))
    except NestingError:
        return "NestingError"


def edge_rows() -> list:
    return [{"id": name, "rows": edge_result(schema, make())} for name, schema, make in EDGES]


def doc_rows() -> list:
    from schema_fantasy_spark.session import get_spark

    spark = get_spark(app_name="sfs-golden", cores=2, shuffle_partitions=2)
    try:
        docs = [r["doc"] for r in json_docs(spark, DOC_IDS, 1).orderBy("id").collect()]
    finally:
        spark.stop()
    rows = dynamic.validate_batch(compile_schema(DOCS_SCHEMA).source, pa.array(docs, pa.string()))
    return [{"id": i, "doc": doc, "rows": r} for i, (doc, r) in enumerate(zip(docs, rows))]


def main() -> None:
    golden = {"draft4": draft4_rows(), "edges": edge_rows(), "docs": doc_rows()}
    with open(OUT, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True, ensure_ascii=True)
        f.write("\n")
    print(f"wrote {OUT}: " + ", ".join(f"{k} {len(v)}" for k, v in golden.items()))


if __name__ == "__main__":
    main()
