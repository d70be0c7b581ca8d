"""The Python-worker side of dynamic mode, without Spark: the per-document
function of the kernel UDF (orjson against ``json.loads``) and the zip
directory fix for reused workers (``keep_unchanged_zip_directories``)."""

import importlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from schema_fantasy_spark import dynamic
from schema_fantasy_spark.compiler.plan import MAX_DEPTH, generate_source

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
