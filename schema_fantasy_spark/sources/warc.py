"""WARC (ISO 28500) reader/writer — Common Crawl's native archive
format, pure stdlib. The ingestion edge of the north-star pipeline:
crawl archives arrive as ``*.warc.gz`` (one gzip MEMBER per record,
concatenated), each response record carrying the fetched URL, the
WARC-Date timestamp, HTTP headers, and the raw HTML payload — exactly
the ``(url, warc_ts, html)`` columns of the pages table.

Scale shape: ``read_warc`` lists archives with Spark's binaryFile
source and parses each archive inside ``mapInPandas`` — partition-
preserving, records never shuffle, and per-record gzip members mean a
truncated archive loses only its tail records (parse stops cleanly at
corruption: per-row quarantine, like every decoder in ops/).

Writer emits spec-layout records (WARC/1.0 headers, Content-Length,
CRLF framing, HTTP response blocks) for tests and corpus synthesis.
"""

from __future__ import annotations

import gzip
import io
import zlib
from typing import Any, Dict, Iterator, List, Optional

CRLF = b"\r\n"


# --------------------------------------------------------------- writing


#: spec Content-Type per record type (ISO 28500 §6; the warc-fields
#: media type carries colon-separated metadata lines, the http ones a
#: full HTTP message)
_CONTENT_TYPES = {
    "response": "application/http; msgtype=response",
    "request": "application/http; msgtype=request",
    "warcinfo": "application/warc-fields",
    "metadata": "application/warc-fields",
    # WET extracted-text records (the Common Crawl *.warc.wet.gz
    # convention): conversion of a response's HTML to plain text
    "conversion": "text/plain",
    # deduplicated re-crawl: the server returned a payload already
    # archived, so only the pointer (WARC-Payload-Digest) is stored
    "revisit": "application/http; msgtype=response",
}

#: the ISO 28500 / IIPC profile URI for digest-based revisit records
REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
)


def build_revisit(
    url: str,
    date: str,
    payload_digest: str,
    refers_to: str = "<urn:uuid:00000000-0000-0000-0000-000000000000>",
    profile: str = REVISIT_PROFILE,
) -> bytes:
    """A ``revisit`` record (uncompressed): the crawl-side dedup
    mechanism — a re-fetch whose payload was byte-identical to an
    earlier capture stores no body, only ``WARC-Payload-Digest`` (the
    resolution key), ``WARC-Refers-To`` and the identical-payload
    profile."""
    return build_record(
        url,
        date,
        b"",
        warc_type="revisit",
        extra_fields={
            "WARC-Profile": profile,
            "WARC-Refers-To": refers_to,
            "WARC-Payload-Digest": payload_digest,
        },
    )


def build_record(
    url: Optional[str],
    date: str,
    body: bytes,
    http_headers: Optional[Dict[str, str]] = None,
    warc_type: str = "response",
    status: int = 200,
    record_id: str = "<urn:uuid:00000000-0000-0000-0000-000000000000>",
    request_line: str = "GET / HTTP/1.1",
    extra_fields: Optional[Dict[str, str]] = None,
    content_type: Optional[str] = None,
) -> bytes:
    """One spec-layout WARC record (uncompressed). ``date`` is the
    ISO-8601 WARC-Date (e.g. ``2026-01-01T00:00:00Z``). ``response``
    and ``request`` records wrap ``body`` in an HTTP message (status
    line / ``request_line``); ``warcinfo``/``metadata`` carry it raw as
    warc-fields; ``conversion`` (WET) carries it raw as text/plain.
    ``url`` may be None (warcinfo records have none). ``extra_fields``
    adds WARC headers (WARC-Refers-To etc.); ``content_type`` overrides
    the per-type default (WAT metadata records are application/json)."""
    http = bytearray()
    if warc_type in ("response", "request"):
        first = (f"HTTP/1.1 {status} OK" if warc_type == "response"
                 else request_line)
        http += first.encode() + CRLF
        for k, v in (http_headers or {}).items():
            http += f"{k}: {v}".encode() + CRLF
        http += f"Content-Length: {len(body)}".encode() + CRLF + CRLF
    http += body
    block = bytes(http)
    head = bytearray(b"WARC/1.0" + CRLF)
    fields = [
        ("WARC-Type", warc_type),
        ("WARC-Record-ID", record_id),
        ("WARC-Date", date),
    ]
    if url is not None:
        fields.append(("WARC-Target-URI", url))
    for k, v in (extra_fields or {}).items():
        fields.append((k, v))
    fields += [
        ("Content-Type",
         content_type or _CONTENT_TYPES.get(warc_type,
                                            "application/octet-stream")),
        ("Content-Length", str(len(block))),
    ]
    for k, v in fields:
        head += f"{k}: {v}".encode() + CRLF
    return bytes(head) + CRLF + block + CRLF + CRLF


def build_warc(records: List[bytes], compress: bool = True) -> bytes:
    """Concatenate records into an archive; ``compress`` gzips each
    record as its OWN member (the Common Crawl convention — members are
    independently seekable/decodable)."""
    if not compress:
        return b"".join(records)
    return b"".join(gzip.compress(r) for r in records)


# --------------------------------------------------------------- parsing


def _gunzip_members(payload: bytes) -> bytes:
    """Decompress concatenated gzip members; stops cleanly at a
    corrupt/truncated tail (everything decoded so far is kept)."""
    out = bytearray()
    i = 0
    while i < len(payload) and payload[i : i + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            out += d.decompress(payload[i:])
            out += d.flush()
        except zlib.error:
            break
        if not d.eof:
            break
        consumed = len(payload) - i - len(d.unused_data)
        if consumed <= 0:
            break
        i += consumed
    return bytes(out)


def _parse_headers(data: bytes, start: int):
    """(headers_dict, next_index) for CRLF-terminated header lines up to
    the blank line; None on malformed."""
    headers: Dict[str, str] = {}
    i = start
    while True:
        j = data.find(CRLF, i)
        if j < 0:
            return None
        line = data[i:j]
        i = j + 2
        if line == b"":
            return headers, i
        k, sep, v = line.partition(b":")
        if not sep:
            return None
        headers[k.strip().decode("latin-1").lower()] = v.strip().decode("latin-1")


def parse_warc(payload: bytes) -> List[Dict[str, Any]]:
    """Records of an archive (gzipped or plain): dicts with ``type``,
    ``url``, ``date``, ``headers`` (WARC), ``body``, plus per type:
    ``http_status``/``http_headers`` for responses, ``http_method``/
    ``http_target``/``http_headers`` for requests, and ``fields`` (the
    parsed warc-fields map) for warcinfo/metadata records — Common
    Crawl raw archives interleave all four. Malformed tails stop the
    parse cleanly — records before the corruption survive."""
    if payload[:2] == b"\x1f\x8b":
        payload = _gunzip_members(payload)
    out: List[Dict[str, Any]] = []
    i = 0
    n = len(payload)
    while i < n:
        # tolerate inter-record padding
        while i < n and payload[i : i + 1] in (b"\r", b"\n"):
            i += 1
        if i >= n:
            break
        if not payload.startswith(b"WARC/", i):
            break
        j = payload.find(CRLF, i)
        if j < 0:
            break
        parsed = _parse_headers(payload, j + 2)
        if parsed is None:
            break
        headers, body_start = parsed
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break
        if body_start + length > n:
            break  # truncated record: quarantine the tail
        block = payload[body_start : body_start + length]
        rec: Dict[str, Any] = {
            "type": headers.get("warc-type", ""),
            "url": headers.get("warc-target-uri"),
            "date": headers.get("warc-date"),
            "headers": headers,
        }
        rec["http_status"] = None
        rec["http_method"] = None
        rec["http_target"] = None
        rec["http_headers"] = {}
        rec["fields"] = {}
        rec["body"] = block
        if rec["type"] == "response" and block.startswith(b"HTTP/"):
            eol = block.find(CRLF)
            parts = block[:eol].split(b" ", 2)
            try:
                rec["http_status"] = int(parts[1])
            except (IndexError, ValueError):
                pass
            hp = _parse_headers(block, eol + 2)
            if hp is None:
                rec["http_headers"], rec["body"] = {}, b""
            else:
                rec["http_headers"], rec["body"] = hp[0], block[hp[1]:]
        elif rec["type"] == "request" and CRLF in block:
            # request line: METHOD SP target SP HTTP-version
            eol = block.find(CRLF)
            parts = block[:eol].split(b" ", 2)
            if len(parts) == 3 and parts[2].startswith(b"HTTP/"):
                rec["http_method"] = parts[0].decode("latin-1")
                rec["http_target"] = parts[1].decode("latin-1")
                hp = _parse_headers(block, eol + 2)
                if hp is not None:
                    rec["http_headers"], rec["body"] = hp[0], block[hp[1]:]
        elif rec["type"] in ("warcinfo", "metadata"):
            # warc-fields: colon-separated lines, same grammar as headers
            fp = _parse_headers(block + CRLF + CRLF, 0)
            if fp is not None:
                rec["fields"] = fp[0]
        elif rec["type"] == "revisit":
            # surface the dedup pointer headers as the record's fields
            rec["fields"] = {
                k: headers[k]
                for k in ("warc-profile", "warc-refers-to",
                          "warc-payload-digest")
                if k in headers
            }
        out.append(rec)
        i = body_start + length
    return out


# ------------------------------------------------------------ spark edge


def read_warc(spark, path: str, records: str = "response"):
    """DataFrame over ``path``'s archives (binaryFile listing +
    mapInPandas parse: partition-preserving, bodies never shuffle).

    ``records="response"`` (default): (url, warc_ts, html, http_status,
    content_type, warc_file) — the pages-table ingestion contract;
    non-response records (warcinfo/request/metadata, which raw Common
    Crawl archives interleave with responses) are parsed and skipped.

    ``records="all"``: every record surfaced TYPED — adds
    ``record_type`` plus ``http_method`` (requests) and ``info``
    (warcinfo/metadata warc-fields rendered ``k=v`` newline-joined,
    sorted); ``html`` carries each record's raw body."""
    import pandas as pd
    from pyspark.sql import functions as F, types as T

    if records not in ("response", "all"):
        raise ValueError(f"records must be 'response' or 'all': {records!r}")
    fields = [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("warc_file", T.StringType()),
    ]
    if records == "all":
        fields += [
            T.StructField("record_type", T.StringType()),
            T.StructField("http_method", T.StringType()),
            T.StructField("info", T.StringType()),
        ]
    schema = T.StructType(fields)
    want_all = records == "all"

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: Dict[str, list] = {f.name: [] for f in fields}
            for fpath, content in zip(pdf["path"], pdf["content"]):
                for rec in parse_warc(bytes(content)):
                    if not want_all and rec["type"] != "response":
                        continue
                    rows["url"].append(rec["url"])
                    # WARC-Date is UTC ('Z'); session tz is UTC, store naive
                    rows["warc_ts"].append(
                        pd.Timestamp(rec["date"].rstrip("Z"))
                        if rec["date"] else None)
                    rows["html"].append(rec["body"])
                    rows["http_status"].append(rec["http_status"])
                    rows["content_type"].append(
                        rec["http_headers"].get("content-type")
                        if rec["type"] in ("response", "request")
                        else rec["headers"].get("content-type"))
                    rows["warc_file"].append(fpath)
                    if want_all:
                        rows["record_type"].append(rec["type"])
                        rows["http_method"].append(rec["http_method"])
                        rows["info"].append(
                            "\n".join(f"{k}={v}" for k, v in
                                      sorted(rec["fields"].items()))
                            if rec["fields"] else None)
            out = {"warc_ts": pd.Series(rows["warc_ts"],
                                        dtype="datetime64[ns]")}
            for f in fields:
                if f.name != "warc_ts":
                    out[f.name] = pd.Series(rows[f.name], dtype="object")
            yield pd.DataFrame(out)[[f.name for f in fields]]

    binfiles = spark.read.format("binaryFile").load(path).select("path", "content")
    return binfiles.mapInPandas(run, schema)
