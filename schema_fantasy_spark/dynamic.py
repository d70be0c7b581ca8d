"""Dynamic-document validation: arbitrary JSON values in a string column,
validated by the compiled kernel inside an Arrow UDF.

This is the conformance-parity path for fully dynamic documents (the
reference's native habitat — arbitrary JSON, reference index.js:43). The
scale path for typed tables is ``columnar.py``; SURVEY.md §7 'hard parts'
(b) routes pathological/recursive schemas here.

The kernel is generated ONCE on the driver (``compile_schema``: Python
source with $refs resolved and every constant a literal) and only its
source text travels in the UDF. Each Python worker executes the source
once and caches the kernel by that text (``plan.load_kernel``), so later
batches and tasks on the worker reuse it. A dynamic ``ValidationEngine``
builds its UDF once, at construction. Data crosses JVM->Python as Arrow
batches (spark.sql.execution.arrow.maxRecordsPerBatch rows at a time):
``validate_batch`` reads a batch's documents as bytes in one loop, and
the UDF returns its error rows as one ``pa.array``, with no pandas in
between. A document that is not UTF-8 or not JSON is a ``$parse`` row,
never a failed task. One whose brackets nest deeper than
``plan.MAX_DEPTH`` is a ``$depth`` row, found before any parse
(``_nests_too_deep``), so the kernel takes the parsed value alone.

Documents are parsed by ``orjson`` where it reads them exactly as
``json.loads`` does (``_orjson_reads``). A reused worker no longer re-reads the
directories of unchanged zip archives on every task, which PySpark's
per-task ``importlib.invalidate_caches`` does on Python < 3.12
(``keep_unchanged_zip_directories``).
"""

from __future__ import annotations

import json
import os
import sys
import zipimport
from typing import Callable, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from schema_fantasy_spark.errors import ERRORS_SCHEMA, errs_to_rows
from schema_fantasy_spark.compiler.plan import MAX_DEPTH, CompiledSchema, load_kernel

#: a run of digits that may hold an integer beyond 64 bits, which orjson
#: reads as a float (2^64 as 1.8446744073709552e+19) and json.loads exactly
#: (an RE2 pattern: ``pyarrow.compute`` searches a whole batch at once)
LONG_DIGITS = "[0-9]{19}"


def _reject_constant(name: str):
    raise ValueError(f"non-standard JSON constant: {name}")


#: what ``_json_loads`` returns for a document it cannot read
_MALFORMED = object()


def _json_loads(doc: bytes):
    """``json.loads`` of the UTF-8 text ``doc``; _MALFORMED where the text
    is not UTF-8 or not JSON, or nests past the recursion limit."""
    try:
        # reject NaN/Infinity (not JSON): variant's try_parse_json rejects
        # them too, keeping the two modes oracle-interchangeable on the
        # same documents
        return json.loads(doc.decode(), parse_constant=_reject_constant)
    except (ValueError, RecursionError):  # UnicodeDecodeError is a ValueError
        return _MALFORMED


def _orjson_loads() -> Optional[Callable[[bytes], object]]:
    """``orjson.loads``, or None where orjson is not installed. orjson is
    optional: it is a compiled wheel that ``--py-files`` cannot ship, and
    a worker without it gives the same rows."""
    try:
        import orjson
    except ImportError:
        return None
    return orjson.loads


def _orjson_reads(docs: pa.Array) -> list:
    """Which documents of ``docs`` (a binary array) orjson reads exactly
    as ``json.loads``: those with no ``LONG_DIGITS``, as orjson reads an
    integer beyond 64 bits as a float. The others, and every one orjson
    rejects, go to json.loads, which reads ``1e400`` as inf and keeps a
    lone surrogate escape, and whose failure makes the ``$parse`` row."""
    return pc.invert(pc.match_substring_regex(docs, LONG_DIGITS)).to_pylist()


#: every byte but a quote and the four brackets
_NOT_STRUCTURE = bytes(sorted(set(range(256)) - set(b'"[]{}')))
#: a kept byte's step in nesting depth, as a signed byte
_STEPS = bytes.maketrans(b'[{]}"', b"\x01\x01\xff\xff\x00")
#: the bytes ``_nests_too_deep`` sums at a time
_CHUNK = 1 << 16
#: what ``validate_batch`` reads a document nested past MAX_DEPTH with
_DEEP = object()


def _nests_too_deep(doc: bytes) -> bool:
    """Whether the brackets of ``doc`` outside strings nest deeper than
    MAX_DEPTH, from the bytes alone: a document that is not JSON is
    measured too. Escaped backslashes and quotes are dropped, so each
    quote left opens or closes a string, then all but quotes and brackets,
    and two quotes in a row (they hold no bracket). numpy sums the depth
    a chunk at a time and stops at the first chunk past MAX_DEPTH."""
    if doc.count(b"[") + doc.count(b"{") <= MAX_DEPTH:
        return False
    if b"\\" in doc:
        doc = doc.replace(b"\\\\", b"").replace(b'\\"', b"")
    kept = doc.translate(None, _NOT_STRUCTURE).replace(b'""', b"")
    steps, kept = memoryview(kept.translate(_STEPS)), memoryview(kept)
    quotes = depth = 0
    for i in range(0, len(kept), _CHUNK):
        quotes = np.cumsum(np.frombuffer(kept[i:i + _CHUNK], np.uint8) == ord('"')) + quotes
        # a byte after an odd number of quotes is inside a string
        depth = np.cumsum(np.frombuffer(steps[i:i + _CHUNK], np.int8) * (quotes & 1 == 0)) + depth
        if depth.max() > MAX_DEPTH:
            return True
        quotes, depth = quotes[-1], depth[-1]
    return False


def _quarantine(keyword: str, message: str, actual: Optional[str]) -> list:
    """The one violation row of a document the kernel cannot evaluate."""
    return [{"path": [], "keyword": keyword, "message": message,
             "expected": None, "actual": actual, "depth": 0}]


#: the ``_quarantine`` arguments of a document nested too deeply to validate
_TOO_DEEP = ("$depth", "document nests too deeply to validate", None)


def _malformed(doc: bytes) -> list:
    """The ``$parse`` row of a document that is not JSON. Its message and
    ``actual`` show the first 80 characters, or of a document that is not
    UTF-8, its first 80 bytes decoded with replacement characters. The
    message format matches variant.py's $parse row, so the two modes stay
    oracle-interchangeable."""
    try:
        head = doc.decode()[:80]
    except UnicodeDecodeError:
        head = doc[:80].decode(errors="replace")
    return _quarantine("$parse", "malformed JSON: " + head, head)


def validate_batch(source: str, docs: pa.Array) -> list:
    """The error rows (dicts shaped as ``ERROR_STRUCT``) of each document
    of ``docs``, a string array, under the kernel generated as ``source``:
    what the kernel UDF returns for one Arrow batch.

    The documents are read as bytes, so one that is not UTF-8 is a
    ``$parse`` row like any other malformed one: at 10^12 documents one
    must become a violation row, not a failed stage ('$parse' is not a
    draft-4 keyword, so it can never collide with schema-driven errors).
    A null document is validated as JSON null. ``orjson`` parses where it
    reads a document as ``json.loads`` does (``_orjson_reads``, found for
    the whole batch at once). A document nested deeper than MAX_DEPTH is
    one ``$depth`` row, unparsed (``_nests_too_deep``), as is one that a
    schema costing several frames a level cannot check within the stack."""
    kernel, fast_loads = load_kernel(source), _orjson_loads()
    docs = docs.view(pa.large_binary() if pa.types.is_large_string(docs.type) else pa.binary())
    texts = docs.to_pylist()
    reads = [False] * len(texts) if fast_loads is None else _orjson_reads(docs)
    # only a document longer than MAX_DEPTH bytes can nest deeper (no json_docs one is)
    for i in pc.indices_nonzero(pc.greater(pc.binary_length(docs), MAX_DEPTH)).to_pylist():
        if _nests_too_deep(texts[i]):
            reads[i] = _DEEP
    rows = []
    for doc, fast in zip(texts, reads):
        if doc is None:
            value = None
        elif fast is _DEEP:
            rows.append(_quarantine(*_TOO_DEEP))
            continue
        elif fast:
            try:
                value = fast_loads(doc)
            except ValueError:  # orjson.JSONDecodeError: json.loads decides
                value = _json_loads(doc)
        else:
            value = _json_loads(doc)
        if value is _MALFORMED:
            rows.append(_malformed(doc))
            continue
        try:
            errs = kernel(value)
        except RecursionError:
            rows.append(_quarantine(*_TOO_DEEP))
            continue
        rows.append(errs_to_rows(errs) if errs else [])
    return rows


def _zip_stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def keep_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_mtime_ns, st_size)`` differ
    from those at its last read. Once per process; a no-op on Python
    3.12 and later, whose ``invalidate_caches`` only drops the cache.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``). On Python < 3.12 every
    zipimporter then re-reads its archive's whole directory: one per
    sub-package imported from ``pyspark.zip``, and more for a
    ``--py-files`` zip, at about 12 ms each, so a task started 200-460 ms
    late on a reused worker. An unchanged archive has the same directory,
    so imports stay exact; a rewritten one is re-read as before. The
    archives already cached are stamped at install, which the kernel UDF
    does on its first call in a worker, right after its task's setup
    re-read them all."""
    if sys.version_info >= (3, 12) or getattr(
            zipimport.zipimporter.invalidate_caches, "keeps_unchanged", False):
        return
    reread = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    stamps = {archive: _zip_stamp(archive) for archive in cache}

    def invalidate_caches(self):
        stamp = _zip_stamp(self.archive)
        files = cache.get(self.archive)
        if stamp is not None and stamp == stamps.get(self.archive) and files is not None:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    invalidate_caches.keeps_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def kernel_udf(compiled: CompiledSchema):
    """The Arrow UDF running ``compiled``'s kernel; it carries only the
    kernel's source."""
    source, rows_type = compiled.source, to_arrow_type(ERRORS_SCHEMA)

    @arrow_udf(ERRORS_SCHEMA)
    def _validate(docs: pa.Array) -> pa.Array:
        keep_unchanged_zip_directories()
        return pa.array(validate_batch(source, docs), type=rows_type)

    return _validate

