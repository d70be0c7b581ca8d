"""Scale helpers: host extraction, partition pruning and deterministic
sampling (SURVEY.md §4.3).

Per-host verdicts are ``ValidationEngine.partition_verdicts`` grouped on
``host_of(url)``. No salt: count and sum get a map-side partial
aggregate, so a hot host reaches its reducer as at most one partial row
per map task, and a salt would only add a second exchange
(``tests/test_plan_audit.py::test_per_host_verdicts_one_exchange``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F


def host_of(url: Column) -> Column:
    """Host part of a URL (native parse_url — codegen'd)."""
    return F.parse_url(url, F.lit("HOST"))


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
