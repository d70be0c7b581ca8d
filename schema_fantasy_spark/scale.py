"""Scale machinery: skew-aware aggregation, host extraction, partition
pruning helpers (SURVEY.md §4.3; north rule: "partitioning / shuffle /
skew handled explicitly ... salted repartitioning for skewed hosts").

Why AQE alone is not enough: adaptive skew-join splitting fixes skewed
JOINs, but a single-key ``groupBy(host)`` still funnels each hot host into
one reducer task. The fix is the classic two-phase salted aggregate:

    phase 1:  groupBy(host, salt) — hot keys split across S reducers
    phase 2:  groupBy(host)       — combine S partials (tiny input)

``salt = pmod(xxhash64(row-unique-expr), S)`` keeps the split deterministic.
For algebraic aggregates (count/sum/min/max) the rewrite is exact.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F


def host_of(url: Column) -> Column:
    """Host part of a URL (native parse_url — codegen'd)."""
    return F.parse_url(url, F.lit("HOST"))


def salted_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    unique_expr: Column,
    aggs: dict,
    buckets: int = 64,
) -> DataFrame:
    """Two-phase salted aggregation for algebraic aggregates.

    ``aggs``: {out_name: (in_col, fn)} with fn in {"count","sum","min","max"}.
    Phase 1 computes per-(key, salt) partials; phase 2 combines with the
    matching combiner (count -> sum of partial counts, min -> min of
    partial mins, ...). Exact for these algebraic functions.
    """
    key_cols = list(key_cols)
    partial_exprs, final_exprs = [], []
    for name, (col, fn) in aggs.items():
        if fn == "count":
            partial_exprs.append(F.count(col).alias(f"_p_{name}"))
            final_exprs.append(F.sum(f"_p_{name}").alias(name))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(f"_p_{name}"))
            final_exprs.append(F.sum(f"_p_{name}").alias(name))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(f"_p_{name}"))
            final_exprs.append(F.min(f"_p_{name}").alias(name))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(f"_p_{name}"))
            final_exprs.append(F.max(f"_p_{name}").alias(name))
        else:
            raise ValueError(f"non-algebraic aggregate {fn!r} cannot be salted exactly")
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(unique_expr), F.lit(buckets)))
    partial = salted.groupBy(*key_cols, "_salt").agg(*partial_exprs)
    return partial.groupBy(*key_cols).agg(*final_exprs)


def per_host_verdicts(
    validated: DataFrame,
    url_col: str = "url",
    buckets: int = 64,
) -> DataFrame:
    """Per-host pass/fail verdicts with salted two-phase aggregation —
    the skew-safe version of ValidationEngine.partition_verdicts for
    Zipf-distributed hosts."""
    df = validated.withColumn("_host", host_of(F.col(url_col)))
    out = salted_agg(
        df,
        ["_host"],
        F.col(url_col),
        {
            "n_rows": (F.lit(1), "count"),
            "n_invalid": ((~F.col("verdict")).cast("long"), "sum"),
            "n_errors": (F.size("errors"), "sum"),
        },
        buckets=buckets,
    )
    return out.withColumnRenamed("_host", "host").withColumn(
        "pass", F.col("n_invalid") == 0
    )


def prune_days(df: DataFrame, ts_col: str, start: Optional[str], end: Optional[str]) -> DataFrame:
    """Partition-pruning filter on the crawl-day column: with a
    days(warc_ts)-partitioned table (Iceberg hidden partitioning or
    parquet dir partitioning) these predicates prune at the manifest/file
    level — verify via PushedFilters / 'partition filters' in explain()."""
    out = df
    if start is not None:
        out = out.filter(F.col(ts_col) >= F.lit(start).cast("timestamp"))
    if end is not None:
        out = out.filter(F.col(ts_col) < F.lit(end).cast("timestamp"))
    return out


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    rate_sixteenths: int,
) -> DataFrame:
    """Deterministic, reproducible sampling by content of the id — the
    training-data-pipeline sampling primitive (holdout carving, debug
    slices, stratified eval sets). Keeps rows whose first md5 nibble of
    ``str(id)`` is < ``rate_sixteenths`` (rate = n/16): the SAME rows
    survive on any engine, any partitioning, any run — unlike
    ``df.sample()``, whose output depends on partition layout.

    Scale shape: a pure filter — pushes into the scan pipeline, no
    shuffle, no state.
    """
    if not 0 <= rate_sixteenths <= 16:
        raise ValueError("rate_sixteenths must be in [0, 16]")
    nib = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 1), 16, 10
    ).cast("int")
    return df.filter(nib < rate_sixteenths)
