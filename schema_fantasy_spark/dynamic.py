"""Dynamic-document validation: arbitrary JSON values in a string column,
validated by the compiled kernel inside an Arrow-batched pandas UDF.

This is the conformance-parity path for fully dynamic documents (the
reference's native habitat — arbitrary JSON, reference index.js:43). The
scale path for typed tables is ``columnar.py``; SURVEY.md §7 'hard parts'
(b) routes pathological/recursive schemas here.

The compiled validator closure is built ONCE on the driver
(``compile_schema``) and shipped to executors inside the UDF closure —
regexes precompiled, $refs resolved; executors do zero schema
interpretation setup. Data crosses JVM->Python as Arrow batches
(spark.sql.execution.arrow.maxRecordsPerBatch rows at a time).
"""

from __future__ import annotations

import json
from typing import Any, Dict, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf

from schema_fantasy_spark.errors import ERRORS_SCHEMA, errs_to_rows
from schema_fantasy_spark.compiler.plan import compile_schema


def _reject_constant(name: str):
    raise ValueError(f"non-standard JSON constant: {name}")


def _quarantine(keyword: str, message: str, actual: Optional[str]) -> list:
    """The one violation row of a document the kernel cannot evaluate."""
    return [{"path": [], "keyword": keyword, "message": message,
             "expected": None, "actual": actual, "depth": 0}]


def _ensure_parallelism(
    df: DataFrame, min_parts: int | None = None, keys: tuple = ()
) -> DataFrame:
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
    if min_parts is None:
        min_parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_parts:
        if keys:
            return df.repartition(min_parts, *[F.col(k) for k in keys])
        return df.repartition(min_parts)
    return df


def json_errors_udf(schema: Any, refs: Optional[Dict[str, Any]] = None):
    """A pandas UDF: json-string column -> errors array<struct> column."""
    compiled = compile_schema(schema, refs=refs)

    @pandas_udf(ERRORS_SCHEMA)
    def _validate(docs: pd.Series) -> pd.Series:
        validate = compiled.validate

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
                return errs_to_rows(validate(value))
            except RecursionError:
                # well-formed but nested past the kernel's recursion
                # budget: the same per-document quarantine as $parse
                return _quarantine("$depth", "document nests too deeply to "
                                   "validate", None)

        return docs.map(one)

    return _validate


def validate_json(
    df: DataFrame,
    doc_col: str,
    schema: Any,
    refs: Optional[Dict[str, Any]] = None,
    errors_col: str = "errors",
    verdict_col: str = "verdict",
) -> DataFrame:
    """Validate JSON documents held in ``df[doc_col]`` (string) against
    ``schema``; append errors + verdict columns."""
    udf = json_errors_udf(schema, refs)
    # The Arrow UDF inherits the scan's parallelism; spread low-split
    # inputs (a single-row-group bench file, a small createDataFrame)
    # across cores first. _ensure_parallelism is a NO-OP whenever the
    # scan already has >= defaultParallelism partitions — always true
    # for a 100 TB table — so at scale this never adds a shuffle; on
    # the single-partition sf0.1 file the shuffle of document strings
    # costs far less than the idle cores (measured 1.65s -> 0.75s once
    # the violations() double-eval was fixed; an earlier measurement
    # that found repartitioning a wash predated that fix).
    src = _ensure_parallelism(df)
    out = src.withColumn(errors_col, udf(F.col(doc_col)))
    return out.withColumn(verdict_col, F.size(F.col(errors_col)) == 0)
