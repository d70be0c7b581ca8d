"""Entry point C parity: fetch a schema over live HTTP, transitively link
its remote $refs, compile, validate — modeled on the reference's HTTP
integration tests (test/test-http.js + test/remotes fixtures: a simple
string-array schema with a $ref, and a jcard-style schema with oneOf +
tuple items)."""

import http.server
import json
import sys
import threading

import pytest

from schema_fantasy_spark.compiler.http import engine_from_url, load_schema
from schema_fantasy_spark.compiler.plan import compile_schema

# fixture universe, same shape as reference test/remotes/simple + jcard
DOCS = {
    "/simple/array": {
        "id": "http://HOST/simple/array",
        "type": "array",
        "items": {"$ref": "item"},
    },
    "/simple/item": {"type": "string", "minLength": 2},
    "/jcard/card": {
        "id": "http://HOST/jcard/card",
        "type": "array",
        "items": [{"enum": ["vcard"]}, {"type": "array", "items": {"$ref": "property"}}],
    },
    "/jcard/property": {
        "type": "array",
        "items": [{"type": "string"}, {"type": "object"}],
        "minItems": 2,
    },
}


class _Handler(http.server.BaseHTTPRequestHandler):
    def do_GET(self):
        doc = DOCS.get(self.path)
        if doc is None:
            self.send_response(404)
            self.end_headers()
            return
        host = self.headers.get("Host")
        body = json.dumps(doc).replace("HOST", host).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture(scope="module")
def server():
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_load_schema_links_transitively(server):
    schema, refs = load_schema(f"{server}/simple/array")
    assert schema["type"] == "array"
    assert f"{server}/simple/array" in refs and f"{server}/simple/item" in refs
    compiled = compile_schema(schema, refs=refs)
    assert compiled.is_valid(["ab", "cde"])
    assert not compiled.is_valid(["ab", 3])
    assert not compiled.is_valid(["a"])  # minLength from the remote item


def test_jcard_style_tuple_items(server):
    schema, refs = load_schema(f"{server}/jcard/card")
    compiled = compile_schema(schema, refs=refs)
    assert compiled.is_valid(["vcard", [["fn", {}], ["org", {"x": 1}]]])
    assert not compiled.is_valid(["notvcard", []])
    assert not compiled.is_valid(["vcard", [["fn"]]])  # property minItems 2


def test_engine_from_url_end_to_end(server, spark):
    eng = engine_from_url(f"{server}/simple/item", mode="dynamic")
    df = spark.createDataFrame([('"ok"',), ('"x"',), ("5",)], "doc: string")
    got = [r["verdict"] for r in eng.apply(df, doc_col="doc").collect()]
    assert got == [True, False, False]


def test_unknown_remote_404(server):
    from urllib.error import HTTPError

    with pytest.raises(HTTPError):
        load_schema(f"{server}/nope")


def _split_schema_files(tmp_path, target):
    """A root file without an ``id`` whose only content is a relative
    $ref to ``target``, written beside it."""
    (tmp_path / "defs.json").write_text(json.dumps(target))
    root = tmp_path / "schema.json"
    root.write_text(json.dumps({"$ref": "defs.json"}))
    return str(root)


def test_load_schema_resolves_a_relative_ref_of_a_root_without_id(tmp_path):
    root = _split_schema_files(tmp_path, {"type": "string", "minLength": 2})
    schema, refs = load_schema(root)
    compiled = compile_schema(schema, refs=refs)
    assert compiled.is_valid("ab")
    assert not compiled.is_valid("a")


def test_validate_job_schema_file_with_a_relative_ref(spark, tmp_path, capsys, monkeypatch):
    from jobs.validate_job import main
    from schema_fantasy_spark.engine import ValidationEngine, verdict_rollup
    from schema_fantasy_spark.sources.pages import PAGES_SCHEMA, pages

    src = str(tmp_path / "pages")
    pages(spark, 300, n_days=2).write.parquet(src)
    monkeypatch.setattr(sys, "argv", [
        "validate_job", "--input", src,
        "--schema-file", _split_schema_files(tmp_path, PAGES_SCHEMA),
        "--manifest-dir", str(tmp_path / "m"), "--derive-day-from", "warc_ts"])
    assert main() == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    totals = ValidationEngine(PAGES_SCHEMA).apply(spark.read.parquet(src)).agg(
        *verdict_rollup()).first().asDict()
    assert totals["n_invalid"] > 0
    assert {k: summary[k] for k in totals} == totals
