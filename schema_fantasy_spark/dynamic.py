"""Dynamic-document validation: arbitrary JSON values in a string column,
validated by the compiled kernel inside an Arrow-batched pandas UDF.

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
batches (spark.sql.execution.arrow.maxRecordsPerBatch rows at a time).
"""

from __future__ import annotations

import json
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf

from schema_fantasy_spark.errors import ERRORS_SCHEMA, errs_to_rows
from schema_fantasy_spark.compiler.plan import CompiledSchema, load_kernel


def _reject_constant(name: str):
    raise ValueError(f"non-standard JSON constant: {name}")


def _quarantine(keyword: str, message: str, actual: Optional[str]) -> list:
    """The one violation row of a document the kernel cannot evaluate."""
    return [{"path": [], "keyword": keyword, "message": message,
             "expected": None, "actual": actual, "depth": 0}]


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
    """The pandas UDF running ``compiled``'s kernel; it carries only the
    kernel's source."""
    source = compiled.source

    @pandas_udf(ERRORS_SCHEMA)
    def _validate(docs: pd.Series) -> pd.Series:
        kernel = load_kernel(source)

        def one(doc):
            if doc is None:
                value = None
            else:
                try:
                    # reject NaN/Infinity (not JSON): variant's
                    # try_parse_json rejects them too, keeping the two
                    # modes oracle-interchangeable on the same documents
                    value = json.loads(doc, parse_constant=_reject_constant)
                except (ValueError, RecursionError):
                    # quarantine, don't kill the job: at 10^12 docs one
                    # malformed document must become a violation row, not
                    # a failed stage ('$parse' is not a draft-4 keyword,
                    # so it can never collide with schema-driven errors).
                    # Message format matches variant.py's $parse row
                    # exactly so the two modes stay oracle-interchangeable.
                    return _quarantine("$parse", "malformed JSON: " + doc[:80],
                                       doc[:80])
            try:
                return errs_to_rows(kernel(value, 0) or ())
            except RecursionError:
                # well-formed but nested past the kernel's nesting budget
                # (plan.NestingError) or the Python stack: the same
                # per-document quarantine as $parse
                return _quarantine("$depth", "document nests too deeply to "
                                   "validate", None)

        return docs.map(one)

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
