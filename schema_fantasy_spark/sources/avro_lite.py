"""Minimal pure-Python Avro Object Container File codec — enough to
read and write Apache Iceberg metadata (manifest lists and manifests),
implemented from the public Avro 1.11 specification (no avro library
in this container; the files involved are KB-scale driver-side
metadata, never data-plane).

Reader: generic and schema-driven — the writer's schema is embedded in
every container header, so any manifest layout (Iceberg v1 or v2)
decodes without this module knowing the schema in advance. Supported:
records, unions, arrays, maps, strings, bytes, fixed, enums, all
primitives, and the ``null``/``deflate`` codecs (Avro deflate = raw
RFC 1951, zlib wbits=-15). Logical types decode as their base type.

Writer: ``null`` codec only (metadata files are small); schemas must
avoid unions except ``["null", X]`` optionals — all Iceberg metadata
needs.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from typing import Any, Dict, Iterator, List, Tuple

MAGIC = b"Obj\x01"


# ------------------------------------------------------------- decoding


class _Reader:
    def __init__(self, data: bytes):
        self.d = data
        self.i = 0

    def read(self, n: int) -> bytes:
        if self.i + n > len(self.d):
            raise EOFError("truncated avro data")
        out = self.d[self.i : self.i + n]
        self.i += n
        return out

    def long(self) -> int:
        """zigzag varint."""
        shift = 0
        acc = 0
        while True:
            b = self.read(1)[0]
            acc |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def string(self) -> str:
        return self.read(self.long()).decode("utf-8")

    def bytes_(self) -> bytes:
        return self.read(self.long())


def _decode(r: _Reader, schema: Any) -> Any:
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):  # union: branch index then value
        return _decode(r, schema[r.long()])
    else:
        t = schema["type"]
    if t == "null":
        return None
    if t == "boolean":
        return r.read(1)[0] != 0
    if t in ("int", "long"):
        return r.long()
    if t == "float":
        return struct.unpack("<f", r.read(4))[0]
    if t == "double":
        return struct.unpack("<d", r.read(8))[0]
    if t == "string":
        return r.string()
    if t == "bytes":
        return r.bytes_()
    if t == "fixed":
        return r.read(schema["size"])
    if t == "enum":
        return schema["symbols"][r.long()]
    if t == "record":
        return {f["name"]: _decode(r, f["type"]) for f in schema["fields"]}
    if t == "array":
        out: List[Any] = []
        while True:
            n = r.long()
            if n == 0:
                break
            if n < 0:  # block-size form
                r.long()
                n = -n
            out.extend(_decode(r, schema["items"]) for _ in range(n))
        return out
    if t == "map":
        m: Dict[str, Any] = {}
        while True:
            n = r.long()
            if n == 0:
                break
            if n < 0:
                r.long()
                n = -n
            for _ in range(n):
                # key must be read BEFORE the value (python evaluates an
                # assignment's RHS before the subscript expression)
                k = r.string()
                m[k] = _decode(r, schema["values"])
        return m
    raise ValueError(f"unsupported avro type: {t!r}")


def _resolve_named(schema: Any, defs: Dict[str, Any]) -> Any:
    """Inline named-type references (Iceberg schemas reuse e.g. the
    partition record type by name)."""
    if isinstance(schema, str):
        return defs.get(schema, schema)
    if isinstance(schema, list):
        return [_resolve_named(s, defs) for s in schema]
    if isinstance(schema, dict):
        t = schema.get("type")
        if t in ("record", "fixed", "enum") and "name" in schema:
            defs[schema["name"]] = schema
        out = dict(schema)
        if t == "record":
            out["fields"] = [
                {**f, "type": _resolve_named(f["type"], defs)}
                for f in schema["fields"]
            ]
        elif t == "array":
            out["items"] = _resolve_named(schema["items"], defs)
        elif t == "map":
            out["values"] = _resolve_named(schema["values"], defs)
        elif isinstance(t, (dict, list)):
            out["type"] = _resolve_named(t, defs)
        return out
    return schema


def read_container(data: bytes) -> Tuple[Any, List[Any]]:
    """(schema, records) from an Avro Object Container File."""
    r = _Reader(data)
    if r.read(4) != MAGIC:
        raise ValueError("not an avro container file")
    meta = _decode(r, {"type": "map", "values": "bytes"})
    schema = _resolve_named(json.loads(meta["avro.schema"].decode()), {})
    codec = meta.get("avro.codec", b"null").decode()
    sync = r.read(16)
    records: List[Any] = []
    while r.i < len(r.d):
        n = r.long()
        size = r.long()
        block = r.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported avro codec: {codec}")
        br = _Reader(block)
        for _ in range(n):
            records.append(_decode(br, schema))
        if r.read(16) != sync:
            raise ValueError("avro sync marker mismatch")
    return schema, records


# ------------------------------------------------------------- encoding


def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode(w: io.BytesIO, schema: Any, v: Any) -> None:
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):
        # optionals only: ["null", X]; pick branch by value
        if v is None:
            w.write(_zigzag(schema.index("null")))
            return
        branch = next(i for i, s in enumerate(schema) if s != "null")
        w.write(_zigzag(branch))
        _encode(w, schema[branch], v)
        return
    else:
        t = schema["type"]
    if t == "null":
        return
    if t == "boolean":
        w.write(b"\x01" if v else b"\x00")
    elif t in ("int", "long"):
        w.write(_zigzag(int(v)))
    elif t == "float":
        w.write(struct.pack("<f", v))
    elif t == "double":
        w.write(struct.pack("<d", v))
    elif t == "string":
        b = v.encode("utf-8")
        w.write(_zigzag(len(b)) + b)
    elif t == "bytes":
        w.write(_zigzag(len(v)) + bytes(v))
    elif t == "record":
        for f in schema["fields"]:
            _encode(w, f["type"], v.get(f["name"]))
    elif t == "array":
        if v:
            w.write(_zigzag(len(v)))
            for item in v:
                _encode(w, schema["items"], item)
        w.write(_zigzag(0))
    elif t == "map":
        if v:
            w.write(_zigzag(len(v)))
            for k, val in v.items():
                kb = k.encode("utf-8")
                w.write(_zigzag(len(kb)) + kb)
                _encode(w, schema["values"], val)
        w.write(_zigzag(0))
    else:
        raise ValueError(f"unsupported avro type for writing: {t!r}")


def write_container(schema: Any, records: List[Any]) -> bytes:
    """Serialize records as an Avro Object Container File (null codec,
    one block, deterministic content-derived sync marker)."""
    body = io.BytesIO()
    for rec in records:
        _encode(body, schema, rec)
    block = body.getvalue()
    import hashlib

    sync = hashlib.md5(block + json.dumps(schema, sort_keys=True).encode()).digest()
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": b"null"}
    out = io.BytesIO()
    out.write(MAGIC)
    _encode(out, {"type": "map", "values": "bytes"}, meta)
    out.write(sync)
    if records:
        out.write(_zigzag(len(records)))
        out.write(_zigzag(len(block)))
        out.write(block)
        out.write(sync)
    return out.getvalue()
