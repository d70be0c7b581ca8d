"""The Python-worker side of dynamic mode, without Spark: the per-document
function of the kernel UDF (orjson against ``json.loads``) and the zip
directory fix for reused workers (``keep_unchanged_zip_directories``)."""

import importlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import zipfile
import zipimport

import pyarrow as pa
import pytest

from schema_fantasy_spark import compile_schema, dynamic
from schema_fantasy_spark.compiler.plan import MAX_DEPTH, generate_source
from schema_fantasy_spark.errors import errs_to_rows

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------------ the document parser

#: every number keyword, and an enum whose ``actual`` renders the value, so
#: an integer read as a float or a string read differently changes the rows
SCHEMA = {
    "enum": ["x"],
    "maximum": 0,
    "multipleOf": 7,
    "maxLength": 0,
    "items": {"type": "integer", "maximum": 0},
    "properties": {"n": {"type": "integer", "multipleOf": 3}, "s": {"enum": ["y"]}},
}


def _nested(depth: int) -> str:
    return "[" * depth + "]" * depth


HOSTILE = [
    # integers at and beyond 64 bits: orjson reads 2^64 as a float
    "9223372036854775807", "9223372036854775808",
    "-9223372036854775808", "-9223372036854775809",
    "18446744073709551615", "18446744073709551616", "-18446744073709551616",
    '{"n": 18446744073709551616}', "[18446744073709551617, 1]",
    "123456789012345678901234567890.5", "0.1234567890123456789",
    # out of double range: an orjson error, inf in json.loads
    "1e400", "-1e400", '{"n": 1e400}', "1e-400",
    # lone surrogate escapes: an orjson error, kept by json.loads
    '"\\ud800"', '{"s": "\\udc00x"}', '["\\ud83d"]', '"\\ud83d\\ude00"',
    # duplicate keys: the last one wins in both
    '{"n": 1, "n": "x"}', '{"s": "y", "s": "z"}',
    # nesting around orjson's 1024 limit and past the kernel's budget
    _nested(MAX_DEPTH), _nested(MAX_DEPTH + 1), _nested(1023), _nested(1024),
    _nested(1025), _nested(5000), "[" * 1023, "[" * 1000 + "1" + "]" * 999,
    # not JSON: the $parse row
    "NaN", "Infinity", "-Infinity", '{"n": NaN}', "[Infinity]",
    "[1,]", "01", "1.", "﻿1", '"a\x01"', "", "{",
    # plain documents
    "-0", "-0.0", "1E2", '"x"', '{"n": 6, "s": "y"}', "[0, -1]", "null", "true",
]


def _rows(docs, schema=SCHEMA):
    return dynamic.validate_batch(generate_source(schema), pa.array(docs, pa.string()))


# the second schema never looks inside an array: a deep document is valid
# under it when parsed, so the parser alone decides its rows
@pytest.mark.parametrize("schema", [SCHEMA, {"type": ["array", "integer"]}])
def test_orjson_gives_the_rows_of_json_loads(monkeypatch, schema):
    orjson = pytest.importorskip("orjson")
    assert dynamic._orjson_loads() is orjson.loads
    fast = _rows(HOSTILE + [None], schema)
    monkeypatch.setitem(sys.modules, "orjson", None)
    assert dynamic._orjson_loads() is None
    assert fast == _rows(HOSTILE + [None], schema)
    # the guard is needed: orjson alone reads 2^64 inexactly
    assert orjson.loads("18446744073709551617") != json.loads("18446744073709551617")


def test_parse_failures_are_quarantined_rows(monkeypatch):
    monkeypatch.setitem(sys.modules, "orjson", None)
    nested = {"definitions": {"n": {"type": "array", "items": {"$ref": "#/definitions/n"}}},
              "$ref": "#/definitions/n"}
    nan, shallow, deep = _rows(["NaN", _nested(MAX_DEPTH), _nested(MAX_DEPTH + 1)], nested)
    assert shallow == []
    assert [r["keyword"] for r in nan] == ["$parse"]
    assert nan[0]["message"] == "malformed JSON: NaN"
    assert [r["keyword"] for r in deep] == ["$depth"]
    assert _rows([None], {"required": ["n"]}) == [[]]
    # bytes that are not UTF-8: their first 80, decoded with replacement
    not_utf8 = pa.array([b'"\xff"', b'"\xc3\xa9\xff'], pa.binary()).view(pa.string())
    rows = dynamic.validate_batch(generate_source(nested), not_utf8)
    assert [(r["keyword"], r["message"], r["actual"]) for (r,) in rows] == [
        ("$parse", 'malformed JSON: "\ufffd"', '"\ufffd"'),
        ("$parse", 'malformed JSON: "\u00e9\ufffd', '"\u00e9\ufffd')]


@pytest.mark.parametrize("orjson", [True, False], ids=["orjson", "json"])
def test_deep_rows_are_a_property_of_the_document(monkeypatch, orjson):
    """A document whose brackets outside strings nest deeper than MAX_DEPTH
    is one '$depth' row before any parse, malformed or not, under a schema
    that never looks inside it, whatever the recursion limit and the
    parser. Brackets inside strings do not count."""
    if orjson:
        pytest.importorskip("orjson")
    else:
        monkeypatch.setitem(sys.modules, "orjson", None)
    deep = [_nested(600), _nested(1100), "[" * 1023]
    in_strings = [json.dumps(["[" * 600, {"k": '\\"' + "{" * 600}])]
    limit = sys.getrecursionlimit()
    try:
        for n in (1000, 5000):
            sys.setrecursionlimit(n)
            rows = _rows(deep + in_strings, {"type": "array"})
            assert [[r["keyword"] for r in doc] for doc in rows] == [["$depth"]] * 3 + [[]], n
    finally:
        sys.setrecursionlimit(limit)


def _depth_by_loop(doc: bytes) -> int:
    """The deepest nesting of the brackets of ``doc`` outside strings, a
    byte at a time: the reference for ``dynamic._nests_too_deep``."""
    depth = deepest = 0
    in_string = escaped = False
    for b in doc:
        if in_string:
            escaped, in_string = (False, True) if escaped else (b == 92, b != 34)
        elif b == 34:
            in_string = True
        elif b in b"[{":
            depth += 1
            deepest = max(deepest, depth)
        elif b in b"]}":
            depth -= 1
    return deepest


def _random_doc(rng: random.Random, depth: int) -> bytes:
    """Brackets opened to about ``depth`` and closed, between strings that
    hold brackets, escaped quotes and backslashes; some are left open."""
    def string():
        return b'"' + b"".join(rng.choice([b"a", b"[", b"{]", b"\\\\", b'\\"', b"\\n"])
                               for _ in range(rng.randint(0, 8))) + b'"'

    parts = []
    for _ in range(depth):
        parts += [rng.choice([b"[", b"{", b"[", b"[1, "]), string() if rng.random() < 0.3 else b""]
        if rng.random() < 0.05:
            parts.append(rng.choice([b"]", b"}"]))
    parts += [rng.choice([b"]", b"}"]) for _ in range(rng.randint(0, depth))]
    return b"".join(parts) + (string()[:-1] if rng.random() < 0.2 else b"")


def test_depth_scan_matches_a_byte_loop():
    """The chunked numpy scan gives the verdict of a loop over every byte,
    around MAX_DEPTH and across its chunk boundaries."""
    rng = random.Random(20)
    docs = [_random_doc(rng, rng.randint(MAX_DEPTH - 10, MAX_DEPTH + 40)) for _ in range(300)]
    # the scan keeps only quotes and brackets: 65,532 of them put a chunk edge in the doc
    docs += [b"[]" * (dynamic._CHUNK // 2 - 2) + doc for doc in docs[:20]]
    docs += [b"[" * 70_000 + b"]" * 70_000, b'["' + b"[" * 70_000 + b'"]']
    verdicts = [dynamic._nests_too_deep(doc) for doc in docs]
    assert verdicts == [_depth_by_loop(doc) > MAX_DEPTH for doc in docs]
    assert 50 < sum(verdicts) < len(docs) - 50


def _best_s(*fs, reps: int = 7) -> list:
    """The least time each of ``fs`` takes, over reps taken in turn."""
    best = [float("inf")] * len(fs)
    for _ in range(reps):
        for i, f in enumerate(fs):
            start = time.perf_counter()
            f()
            best[i] = min(best[i], time.perf_counter() - start)
    return best


@pytest.mark.parametrize("orjson", [True, False], ids=["orjson", "json"])
def test_wide_document_keeps_its_rows(monkeypatch, orjson):
    """About 1 MB of 20,000 small objects: far more than MAX_DEPTH
    brackets, 3 levels deep. It is validated as any document, and the
    depth scan it needs keeps ``validate_batch`` within twice the time
    ``json.loads`` takes to read it."""
    if orjson:
        pytest.importorskip("orjson")
    else:
        monkeypatch.setitem(sys.modules, "orjson", None)
    schema = {"type": "array", "items": {"required": ["id"]}}
    doc = json.dumps([{"id": i, "n": i, "tags": ["t[%d]" % i, "{"]} if i % 5000 else {"tags": []}
                      for i in range(20000)])
    assert 900_000 < len(doc) < 1_100_000
    (rows,) = _rows([doc], schema)
    assert rows == errs_to_rows(compile_schema(schema).validate(json.loads(doc)))
    assert [r["path"] for r in rows] == [[str(i)] for i in range(0, 20000, 5000)]
    docs, source = pa.array([doc], pa.string()), generate_source(schema)
    batch_s, loads_s = _best_s(lambda: dynamic.validate_batch(source, docs),
                               lambda: json.loads(doc))
    assert batch_s <= 2 * loads_s


# ------------------------------------------------ the zip directory fix

old_python = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12+ invalidate_caches re-reads nothing")


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def stdlib_zipimport(monkeypatch):
    """Restore the stdlib ``invalidate_caches`` after the test."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch, stdlib_zipimport):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"sfs_zmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("sfs_zmod_a", "sfs_zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch) -> list:
    reads, real = [], zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or real(a))
    return reads


@old_python
def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("sfs_zmod_a").X == 1
    dynamic.keep_unchanged_zip_directories()
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert zip_on_path not in reads
    # a rewritten archive (its size changes) is read again
    _write_zip(zip_on_path, {"sfs_zmod_a": "X = 1\n", "sfs_zmod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert zip_on_path in reads
    assert importlib.import_module("sfs_zmod_b").Y == 2


@old_python
def test_installing_twice_wraps_once(stdlib_zipimport):
    stdlib = zipimport.zipimporter.invalidate_caches
    dynamic.keep_unchanged_zip_directories()
    wrapped = zipimport.zipimporter.invalidate_caches
    dynamic.keep_unchanged_zip_directories()
    assert wrapped is not stdlib and zipimport.zipimporter.invalidate_caches is wrapped


def test_python_312_installs_nothing(stdlib_zipimport, monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    dynamic.keep_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is stdlib


PYFILES_PROBE = """
import importlib, sys, zipfile, zipimport
import schema_fantasy_spark.engine
from schema_fantasy_spark.dynamic import keep_unchanged_zip_directories
archive = sys.argv[1]
keep_unchanged_zip_directories()
reads, real = [], zipimport._read_directory
zipimport._read_directory = lambda a: reads.append(a) or real(a)
importlib.invalidate_caches()
assert archive not in reads, reads
import schema_fantasy_spark.manifest
assert schema_fantasy_spark.manifest.__file__.startswith(archive)
with zipfile.ZipFile(archive, "a") as z:
    z.writestr("sfs_added.py", "Z = 3\\n")
importlib.invalidate_caches()
assert archive in reads, reads
import sfs_added
print(sfs_added.Z)
"""


@old_python
def test_pyfiles_zip_keeps_its_directory(tmp_path):
    """The same sequence in a process whose ``PYTHONPATH`` holds only the
    ``--py-files`` zip of ``tools/make_pyfiles.sh``."""
    subprocess.run([os.path.join(ROOT, "tools", "make_pyfiles.sh")], check=True,
                   capture_output=True)
    archive = str(tmp_path / "schema_fantasy_spark.zip")
    shutil.copy(os.path.join(ROOT, "dist", "schema_fantasy_spark.zip"), archive)
    out = subprocess.run([sys.executable, "-c", PYFILES_PROBE, archive], cwd=tmp_path,
                         env={**os.environ, "PYTHONPATH": archive},
                         capture_output=True, text=True)
    assert out.returncode == 0 and out.stdout.strip() == "3", out.stderr


def test_engine_imports_no_pandas():
    probe = "import sys, schema_fantasy_spark.engine; print('pandas' in sys.modules)"
    out = subprocess.run([sys.executable, "-c", probe], cwd=ROOT, capture_output=True,
                         text=True, check=True)
    assert out.stdout.strip() == "False"
