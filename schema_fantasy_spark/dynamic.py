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
the UDF reads a batch's documents with ``to_pylist`` and returns its
error rows as one ``pa.array``, with no pandas in between.

Documents are parsed by ``orjson`` where it reads them exactly as
``json.loads`` does (``_loads``). A reused worker no longer re-reads the
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

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
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


def _json_loads(doc: str, long_digits: bool = False):
    # reject NaN/Infinity (not JSON): variant's try_parse_json rejects
    # them too, keeping the two modes oracle-interchangeable on the same
    # documents
    return json.loads(doc, parse_constant=_reject_constant)


def _loads() -> Callable[[str, bool], object]:
    """The document parser ``loads(doc, long_digits)``: ``orjson.loads``
    where it gives what ``json.loads`` gives, else ``json.loads``. orjson
    is optional: it is a compiled wheel that ``--py-files`` cannot ship,
    and a worker without it gives the same rows.

    orjson reads only a document with at most ``MAX_DEPTH`` opening
    brackets and no ``long_digits`` (a run of 19 or more digits): it reads
    an integer beyond 64 bits as a float, and json.loads fails on nesting
    a few levels short of the recursion limit, where orjson reads on to
    1024 levels. Every other document, and every one orjson rejects, goes
    to json.loads, which reads ``1e400`` as inf and keeps a lone surrogate
    escape, and whose error makes the ``$parse`` row."""
    try:
        import orjson
    except ImportError:
        return _json_loads
    fast = orjson.loads

    def loads(doc: str, long_digits: bool):
        if not long_digits and doc.count("[") + doc.count("{") <= MAX_DEPTH:
            try:
                return fast(doc)
            except ValueError:  # orjson.JSONDecodeError
                pass
        return _json_loads(doc)

    return loads


def _quarantine(keyword: str, message: str, actual: Optional[str]) -> list:
    """The one violation row of a document the kernel cannot evaluate."""
    return [{"path": [], "keyword": keyword, "message": message,
             "expected": None, "actual": actual, "depth": 0}]


def document_validator(source: str) -> Callable[[Optional[str], bool], list]:
    """The per-document function of the kernel UDF: the error rows (dicts
    shaped as ``ERROR_STRUCT``) of one JSON document, or of a null one,
    under the kernel generated as ``source``. ``long_digits`` tells that
    the document holds a run of 19 or more digits."""
    kernel, loads = load_kernel(source), _loads()

    def validate(doc: Optional[str], long_digits: bool) -> list:
        if doc is None:
            value = None
        else:
            try:
                value = loads(doc, long_digits)
            except (ValueError, RecursionError):
                # quarantine, don't kill the job: at 10^12 docs one
                # malformed document must become a violation row, not
                # a failed stage ('$parse' is not a draft-4 keyword,
                # so it can never collide with schema-driven errors).
                # Message format matches variant.py's $parse row
                # exactly so the two modes stay oracle-interchangeable.
                return _quarantine("$parse", "malformed JSON: " + doc[:80], doc[:80])
        try:
            return errs_to_rows(kernel(value, 0) or ())
        except RecursionError:
            # well-formed but nested past the kernel's nesting budget
            # (plan.NestingError) or the Python stack: the same
            # per-document quarantine as $parse
            return _quarantine("$depth", "document nests too deeply to validate", None)

    return validate


def validate_batch(source: str, docs: pa.Array) -> list:
    """The error rows of each document of ``docs`` (a string array), as
    the kernel UDF computes them for one Arrow batch."""
    validate = document_validator(source)
    long_digits = pc.match_substring_regex(docs, LONG_DIGITS).to_pylist()
    return [validate(doc, long) for doc, long in zip(docs.to_pylist(), long_digits)]


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


def _ensure_parallelism(df: DataFrame, keys: tuple = ()) -> DataFrame:
    """Spread compute-heavy HOF stages across cores: higher-order-function
    folds evaluate interpreted and inherit the SCAN's parallelism, so a
    small single-row-group file puts an entire HOF pipeline in one task
    (measured 10s -> ~1s on a since-deleted minhash stage at sf0.1).
    No-op whenever the scan already has enough partitions — always true
    for a 100 TB table — so at scale this never adds a shuffle.

    Pass ``keys`` (a high-cardinality column, normally the row id) when
    one exists: hash repartitioning skips the local sort every KEYLESS
    round-robin exchange pays (spark.sql.execution.sortBeforeRepartition,
    on by default so retried tasks reproduce their row assignment — a
    hash key is retry-deterministic for free) — measured 6.7s vs 3.2s
    for a 6M-row aggregate at the r9 10x replica."""
    if df.isStreaming:
        return df  # stream parallelism comes from the source
    min_parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_parts:
        if keys:
            return df.repartition(min_parts, *[F.col(k) for k in keys])
        return df.repartition(min_parts)
    return df


def kernel_udf(compiled: CompiledSchema):
    """The Arrow UDF running ``compiled``'s kernel; it carries only the
    kernel's source."""
    source, rows_type = compiled.source, to_arrow_type(ERRORS_SCHEMA)

    @arrow_udf(ERRORS_SCHEMA)
    def _validate(docs: pa.Array) -> pa.Array:
        keep_unchanged_zip_directories()
        return pa.array(validate_batch(source, docs), type=rows_type)

    return _validate


def with_errors(df: DataFrame, doc_col: str, udf) -> DataFrame:
    """Append ``errors``: the kernel UDF ``udf`` over ``df[doc_col]``."""
    # The Arrow UDF inherits the scan's parallelism; spread low-split
    # inputs (a single-row-group bench file, a small createDataFrame)
    # across cores first. _ensure_parallelism is a NO-OP whenever the
    # scan already has >= defaultParallelism partitions — always true
    # for a 100 TB table — so at scale this never adds a shuffle; on
    # the single-partition sf0.1 file the shuffle of document strings
    # costs far less than the idle cores (measured 1.65s -> 0.75s once
    # the violations() double-eval was fixed; an earlier measurement
    # that found repartitioning a wash predated that fix).
    return _ensure_parallelism(df).withColumn("errors", udf(F.col(doc_col)))
