"""Cross-snapshot comparison (SURVEY.md §2.4 set ops / §2.5 referential):
added / removed / changed rows between two snapshots of a keyed table
(orphans and distribution drift between snapshots are ``table_checks``
calls, bundled by ``CheckSuite``).

Scale shape: one full-outer join keyed on the id column with pre-hashed
content (xxhash64 of the compared columns) — content never shuffles twice,
and the comparison column is 8 bytes regardless of row width.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F


def snapshot_diff(
    base: DataFrame,
    nxt: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Row-level diff: one row per key present in either snapshot, with
    ``change`` in {'added','removed','changed','unchanged'}.

    ``compare_cols`` default: all non-key columns common to both sides.
    """
    key_cols = list(key_cols)
    if compare_cols is None:
        common = [c for c in base.columns if c in set(nxt.columns)]
        compare_cols = [c for c in common if c not in key_cols]
    compare_cols = list(compare_cols)

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in compare_cols]) \
            if compare_cols else F.lit(0)
        return df.select(*key_cols, h.alias(f"_h_{tag}"), F.lit(True).alias(f"_in_{tag}"))

    j = hashed(base, "base").join(hashed(nxt, "next"), on=key_cols, how="full_outer")
    change = (
        F.when(F.col("_in_base").isNull(), F.lit("added"))
        .when(F.col("_in_next").isNull(), F.lit("removed"))
        .when(F.col("_h_base") != F.col("_h_next"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(*key_cols, change.alias("change"))


def snapshot_diff_summary(
    base: DataFrame, nxt: DataFrame, key_cols: Sequence[str], compare_cols=None
) -> DataFrame:
    d = snapshot_diff(base, nxt, key_cols, compare_cols)
    return (
        d.groupBy("change").agg(F.count(F.lit(1)).alias("n")).orderBy("change")
    )
