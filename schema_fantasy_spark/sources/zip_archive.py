"""ZIP archive ingestion — document bundles (data dumps, Wikipedia/
book corpora, scraped-site exports) routinely arrive as .zip; a
validation engine that can read WARC (sources/warc.py) but not ZIP
makes the user shell out for the most common container there is.

The format work is the Python stdlib's (``zipfile`` implements the
PKWARE APPNOTE spec including ZIP64 and CRC verification — unlike WARC
and Iceberg there is nothing to hand-build here); the engine's value is
the SPARK SEAM, identical to read_warc: archives list through the
binaryFile source and every member is extracted inside ``mapInPandas``
— partition-preserving, member bytes never shuffle, one archive never
splits across tasks (the central directory lives at EOF, so a byte
range cannot be parsed independently — the WARC/gzip-member trade-off,
documented there too).

Corrupt members QUARANTINE per-row (crc mismatch / bad compression
surface as ``error`` with NULL content) rather than failing the stage —
at 10^6 archives one damaged file must not kill the job. Encrypted
members quarantine the same way (flag bit 0).

Reference parity note: ingestion edge, same seam as sources/warc.py
(the reference validates in-memory documents; containers are
engine-side, SURVEY.md §2.4 scans/sources/sinks)."""

from __future__ import annotations

import io
import zipfile
from typing import Iterator

MEMBER_SCHEMA = (
    "zip_file string, member string, content binary, "
    "size long, compressed_size long, method string, error string"
)

_METHODS = {0: "stored", 8: "deflate"}


def parse_zip(payload: bytes, zip_name: str = ""):
    """Members of one archive as plain dict rows (shared by the Spark
    seam and the tests). Directory entries are skipped; per-member
    failures quarantine into ``error``."""
    rows = []
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
        infos = zf.infolist()
    except Exception as e:  # not a zip / truncated central directory
        return [{
            "zip_file": zip_name, "member": None, "content": None,
            "size": None, "compressed_size": None, "method": None,
            "error": f"bad archive: {e}",
        }]
    for info in infos:
        if info.is_dir():
            continue
        row = {
            "zip_file": zip_name,
            "member": info.filename,
            "content": None,
            "size": info.file_size,
            "compressed_size": info.compress_size,
            "method": _METHODS.get(info.compress_type,
                                   f"method_{info.compress_type}"),
            "error": None,
        }
        if info.flag_bits & 0x1:
            row["error"] = "encrypted member"
        else:
            try:
                row["content"] = zf.read(info.filename)  # crc-verified
            except Exception as e:
                row["error"] = f"bad member: {e}"
        rows.append(row)
    return rows


def build_zip(members: dict, compress: bool = True) -> bytes:
    """Archive bytes from {member_name: payload bytes} — the writer leg
    of the round-trip gate (deterministic: fixed timestamps, sorted
    names, so identical inputs produce identical archives)."""
    buf = io.BytesIO()
    method = zipfile.ZIP_DEFLATED if compress else zipfile.ZIP_STORED
    with zipfile.ZipFile(buf, "w", method) as zf:
        for name in sorted(members):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = method
            zf.writestr(info, members[name])
    return buf.getvalue()


def read_zip(spark, path: str):
    """DataFrame of every member of every archive under ``path``:
    (zip_file, member, content, size, compressed_size, method, error).
    binaryFile listing + mapInPandas extraction — partition-preserving,
    member bytes never shuffle."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = [f.split()[0] for f in MEMBER_SCHEMA.split(", ")]
        for pdf in batches:
            rows = {c: [] for c in cols}
            for fpath, content in zip(pdf["path"], pdf["content"]):
                for r in parse_zip(bytes(content), zip_name=fpath):
                    for c in cols:
                        rows[c].append(r[c])
            yield pd.DataFrame(rows)

    binfiles = spark.read.format("binaryFile").load(path).select("path", "content")
    return binfiles.mapInPandas(run, MEMBER_SCHEMA)
