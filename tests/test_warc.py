"""sources/warc.py — WARC (ISO 28500) writer/parser + the Spark edge."""

import os

from schema_fantasy_spark.sources import warc as W


def _records():
    return [
        W.build_record("https://a.example.com/x", "2026-01-01T00:00:00Z",
                       b"<html><body>hello</body></html>",
                       {"Content-Type": "text/html; charset=utf-8"}),
        W.build_record("https://b.example.com/y", "2026-01-02T12:30:00Z",
                       b"\x00\x01binary body\xff",
                       {"Content-Type": "application/octet-stream"}, status=404),
        W.build_record("meta", "2026-01-01T00:00:00Z", b"warcinfo-ish",
                       warc_type="metadata"),
    ]


def test_parse_roundtrip_plain_and_gzip():
    recs = _records()
    for compress in (False, True):
        out = W.parse_warc(W.build_warc(recs, compress=compress))
        assert len(out) == 3
        assert out[0]["url"] == "https://a.example.com/x"
        assert out[0]["date"] == "2026-01-01T00:00:00Z"
        assert out[0]["body"] == b"<html><body>hello</body></html>"
        assert out[0]["http_status"] == 200
        assert out[0]["http_headers"]["content-type"] == "text/html; charset=utf-8"
        assert out[1]["http_status"] == 404
        assert out[1]["body"] == b"\x00\x01binary body\xff"  # bytes survive
        assert out[2]["type"] == "metadata" and out[2]["body"] == b"warcinfo-ish"


def test_truncation_quarantines_tail_only():
    arc = W.build_warc(_records(), compress=True)
    for cut in range(0, len(arc), 53):
        W.parse_warc(arc[:cut])  # never raises
    # removing only the final gzip trailer still yields the full data
    # (best-effort decode of a complete deflate stream)
    assert 0 < len(W.parse_warc(arc[: len(arc) - 10])) <= 3
    # cutting into member DATA loses only the tail records
    partial = W.parse_warc(arc[: int(len(arc) * 0.55)])
    assert 0 < len(partial) < 3
    assert W.parse_warc(b"not a warc at all") == []


def test_read_warc_spark_edge(spark, tmp_path):
    d = str(tmp_path / "arcs")
    os.makedirs(d)
    recs = _records()
    with open(os.path.join(d, "p1.warc.gz"), "wb") as fh:
        fh.write(W.build_warc(recs[:2], compress=True))
    with open(os.path.join(d, "p2.warc.gz"), "wb") as fh:
        fh.write(W.build_warc([recs[0]], compress=True))
    rows = W.read_warc(spark, d).collect()
    assert len(rows) == 3  # response records only; metadata skipped
    by_url = sorted(r["url"] for r in rows)
    assert by_url == ["https://a.example.com/x", "https://a.example.com/x",
                      "https://b.example.com/y"]
    a = next(r for r in rows if r["http_status"] == 404)
    assert bytes(a["html"]) == b"\x00\x01binary body\xff"
    assert str(next(r for r in rows if r["http_status"] == 200)["warc_ts"]) \
        == "2026-01-01 00:00:00"


def _mixed_archive():
    """A raw-Common-Crawl-style archive: warcinfo first, then a
    request/response pair and a metadata record per capture."""
    return [
        W.build_record(None, "2026-01-01T00:00:00Z",
                       b"software: sfs-test/1.0\r\nformat: WARC/1.0\r\n",
                       warc_type="warcinfo"),
        W.build_record("https://a.example.com/x", "2026-01-01T00:00:01Z",
                       b"", {"Host": "a.example.com", "Accept": "*/*"},
                       warc_type="request", request_line="GET /x HTTP/1.1"),
        W.build_record("https://a.example.com/x", "2026-01-01T00:00:02Z",
                       b"<html>hi</html>",
                       {"Content-Type": "text/html; charset=utf-8"}),
        W.build_record("https://a.example.com/x", "2026-01-01T00:00:02Z",
                       b"fetchTimeMs: 123\r\n", warc_type="metadata"),
        W.build_record("https://b.example.com/y", "2026-01-02T00:00:00Z",
                       b"second response",
                       {"Content-Type": "text/plain"}, status=301),
    ]


def test_parse_mixed_record_types():
    for compress in (False, True):
        out = W.parse_warc(W.build_warc(_mixed_archive(), compress=compress))
        assert [r["type"] for r in out] == [
            "warcinfo", "request", "response", "metadata", "response"]
        info = out[0]
        assert info["url"] is None
        assert info["fields"] == {"software": "sfs-test/1.0",
                                  "format": "WARC/1.0"}
        req = out[1]
        assert req["http_method"] == "GET" and req["http_target"] == "/x"
        assert req["http_headers"]["host"] == "a.example.com"
        assert req["http_status"] is None
        meta = out[3]
        assert meta["fields"] == {"fetchtimems": "123"}
        assert meta["url"] == "https://a.example.com/x"
        # the interleaved records do not perturb response parsing
        assert out[2]["body"] == b"<html>hi</html>"
        assert out[4]["http_status"] == 301


def test_read_warc_mixed(spark, tmp_path):
    d = str(tmp_path / "mixed")
    os.makedirs(d)
    with open(os.path.join(d, "cc.warc.gz"), "wb") as fh:
        fh.write(W.build_warc(_mixed_archive(), compress=True))
    # default mode: responses only, interleaved records skipped cleanly
    resp = W.read_warc(spark, d).collect()
    assert sorted(r["http_status"] for r in resp) == [200, 301]
    # records="all": every record surfaced TYPED
    rows = sorted(W.read_warc(spark, d, records="all").collect(),
                  key=lambda r: (str(r["warc_ts"]), r["record_type"]))
    assert [r["record_type"] for r in rows] == [
        "warcinfo", "request", "metadata", "response", "response"]
    assert rows[0]["url"] is None
    assert rows[0]["info"] == "format=WARC/1.0\nsoftware=sfs-test/1.0"
    assert rows[0]["content_type"] == "application/warc-fields"
    assert rows[1]["http_method"] == "GET" and rows[1]["http_status"] is None
    assert rows[2]["record_type"] == "metadata"
    assert rows[2]["http_method"] is None and rows[2]["info"] == "fetchtimems=123"
    assert bytes(rows[3]["html"]) == b"<html>hi</html>"


def test_validate_job_warc_charset_end_to_end(spark, tmp_path, capsys, monkeypatch):
    """The full crawl ingestion chain: WARC archive -> charset sniff +
    transcode (transport-layer Content-Type feeding detection) -> html
    extraction -> lang-ID -> validation, via the validate_job CLI
    in-process. Mixed charsets must decode before extraction or the
    cp1252/CJK pages mangle."""
    import json as _json
    import sys as _sys

    from jobs.validate_job import main
    from schema_fantasy_spark.ops.charset import content_type_charset, transcode
    from schema_fantasy_spark.ops.html import extract_text
    from pyspark.sql import functions as F

    pages = [
        ("https://a.example.com/1", "text/html; charset=windows-1252",
         "<html><body>the café is nice today really</body></html>".encode("cp1252")),
        ("https://b.example.com/2", "text/html",
         '<html><head><meta charset="shift_jis"></head><body>hello '
         "あ中 world and more words here</body></html>".encode("shift_jis")),
        ("https://c.example.com/3", "text/html",
         "<html><body>plain utf-8 café with quite a few words</body></html>".encode()),
    ]
    d = str(tmp_path / "arc")
    os.makedirs(d)
    recs = [W.build_record(u, "2026-01-02T03:04:05Z", b,
                           {"Content-Type": ct}) for u, ct, b in pages]
    with open(os.path.join(d, "cc.warc.gz"), "wb") as fh:
        fh.write(W.build_warc(recs, compress=True))

    # decode correctness of the ingestion chain itself
    df = W.read_warc(spark, d)
    dec = transcode(
        df.withColumn("_d", content_type_charset(F.col("content_type"))),
        binary_col="html", id_col="url", declared_col="_d",
    ).withColumn("out", extract_text(F.col("text")))
    got = {r["url"]: (r["charset"], r["source"], r["out"])
           for r in dec.collect()}
    assert got["https://a.example.com/1"] == (
        "windows-1252", "transport", "the café is nice today really")
    assert got["https://b.example.com/2"] == (
        "shift_jis", "meta", "hello あ中 world and more words here")
    assert got["https://c.example.com/3"] == (
        "utf-8", "utf8", "plain utf-8 café with quite a few words")

    # and the CLI end to end (in-process: session survives, manifest lands)
    argv = ["validate_job", "--input", d, "--input-format", "warc",
            "--manifest-dir", str(tmp_path / "m"),
            "--violations-dir", str(tmp_path / "v"),
            "--derive-day-from", "warc_ts"]
    monkeypatch.setattr(_sys, "argv", argv)
    assert main() == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["processed"] == ["2026-01-02"]


def test_revisit_record_roundtrip():
    rev = W.build_revisit(
        "https://a.example.com/x", "2026-02-01T00:00:00Z",
        "md5:abc123", refers_to="<urn:uuid:1>",
    )
    for compress in (False, True):
        out = W.parse_warc(W.build_warc([rev], compress=compress))
        assert len(out) == 1 and out[0]["type"] == "revisit"
        assert out[0]["body"] == b""
        assert out[0]["fields"]["warc-payload-digest"] == "md5:abc123"
        assert out[0]["fields"]["warc-profile"] == W.REVISIT_PROFILE
        assert out[0]["fields"]["warc-refers-to"] == "<urn:uuid:1>"


def test_read_warc_all_surfaces_revisit(spark, tmp_path):
    d = tmp_path / "w"
    d.mkdir()
    recs = [
        W.build_record("https://a.example.com/x", "2026-01-01T00:00:00Z",
                       b"payload"),
        W.build_revisit("https://a.example.com/x", "2026-02-01T00:00:00Z",
                        "md5:d52"),
    ]
    (d / "a.warc.gz").write_bytes(W.build_warc(recs))
    rows = sorted(W.read_warc(spark, str(d), records="all").collect(),
                  key=lambda r: r.warc_ts)
    assert [r.record_type for r in rows] == ["response", "revisit"]
    assert "warc-payload-digest=md5:d52" in rows[1].info
    assert "warc-profile=" + W.REVISIT_PROFILE in rows[1].info
