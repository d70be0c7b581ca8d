"""Table-scope constraint checks (ENGINE-NEW, SURVEY.md §2.5).

No per-value reference counterpart — these lift the reference's keyword
semantics to column/table scope and inherit its result contract
(accumulated violations with paths):

* null rate        <- ``required`` lifted to column scope
                      (reference src/v4/required.js:18-24)
* min/max bounds   <- ``minimum``/``maximum`` (reference src/v4/minimum.js:22-27;
                      ``CheckSuite.with_bounds``)
* cardinality      <- ``enum`` domain-size intuition
* uniqueness       <- ``uniqueItems`` duplicate-count semantics, including
                      the reported duplicate count
                      (reference src/v4/uniqueItems.js:20-27)
* referential      <- the linker's "every $ref target must resolve;
                      unknown resource -> error" (reference src/context.js:33)
* distribution drift <- ``enum`` distribution / length bounds lifted to
                      distribution scope

Scale notes: every check is a partial+final hash aggregation or a single
join; oracle-matched outputs avoid float-summation order sensitivity by
computing rates as one final division of exact longs, and money sums in
decimal.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from schema_fantasy_spark.columns import column


# ------------------------------------------------------------- column stats

#: the probabilities :func:`percentiles` reports, as columns p25 ... p95
PROBS = (0.25, 0.5, 0.75, 0.95)


def _profile(df: DataFrame, cols: Sequence[str], names: Sequence[str],
             stats: Callable[[Column], List[Column]], *keep: Column) -> DataFrame:
    """Long format, one row per column ``c`` of ``cols`` in name order:
    the aggregates ``keep`` over ``df`` (aliased; the same on every row),
    ``col_name`` and ``names``, the values of ``stats(c)`` over ``df``.

    ONE aggregate computes every column's stats in a single scan (alias
    ``_<i>_<j>``: column i, stat j) and ONE ``stack`` unstacks its row.
    A per-column select unioned back together re-plans the aggregate
    per column: k scans of the table, 400 TB read to profile 4 columns
    of a 100 TB one (tests/test_plan_audit.py asserts the one scan)."""
    wide = df.agg(*keep, *[s.alias(f"_{i}_{j}") for i, c in enumerate(cols)
                           for j, s in enumerate(stats(column(c)))])
    rows = [x for i, c in enumerate(cols)
            for x in (F.lit(c), *[f"_{i}_{j}" for j in range(len(names))])]
    return wide.select(*wide.columns[:len(keep)],
                       F.stack(F.lit(len(cols)), *rows).alias("col_name", *names)
                       ).orderBy("col_name")


def null_rates(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Long-format per-column null counts + rate. One pass, one row out
    per column (exact longs; the rate is a single final division)."""
    counts = _profile(df, cols, ["n_null"], lambda c: [F.sum(c.isNull().cast("long"))],
                      F.count(F.lit(1)).alias("n_rows"))
    return counts.select(
        "col_name", "n_rows", "n_null",
        F.round(F.col("n_null") / F.col("n_rows"), 6).alias("null_rate"))


def column_stats(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Long-format min/max/exact-distinct/non-null counts per column.

    The k ``count_distinct`` aggregates on different columns plan
    through Spark's Expand: a k-way row expansion, but a SINGLE pass
    over the table. Exact ``count(distinct)`` here because the oracle
    compares values; the scale path is :func:`cardinality_approx` (HLL,
    no Expand either)."""
    return _profile(
        df, cols, ["min_val", "max_val", "n_distinct", "n_nonnull"],
        lambda c: [F.min(c).cast("double"), F.max(c).cast("double"),
                   F.count_distinct(c), F.count(c)])


def percentiles(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Exact percentiles per column at ``PROBS`` (long format). Exact
    `percentile` keeps the oracle comparable; the 10^12-scale path swaps
    in ``approx_percentile`` (t-digest sketch, same call shape).

    One ARRAY-form percentile aggregate per column, which every
    probability's element reads (Spark plans identical aggregates once):
    the scalar form buffers and sorts the column's values once PER
    PROBABILITY (measured 4x this check), the array form once per
    column."""
    def stats(c: Column) -> List[Column]:
        p = F.percentile(c, PROBS)
        return [F.round(F.element_at(p, k + 1), 4) for k in range(len(PROBS))]

    return _profile(df, cols, [f"p{int(q * 100)}" for q in PROBS], stats)


def cardinality_approx(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """HLL cardinality per column, to a 1% relative standard deviation —
    the 10^12-scale path (single pass, no shuffle of raw values,
    fixed-size sketches)."""
    return _profile(df, cols, ["approx_distinct"],
                    lambda c: [F.approx_count_distinct(c, 0.01)])


# --------------------------------------------------------------- uniqueness


def _keyed(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Rows whose key columns are all non-null. A NULL key is unknown,
    not a value: it duplicates nothing and is no orphan (the null-rate
    check's job)."""
    for c in key_cols:
        df = df.filter(column(c).isNotNull())
    return df


def _key_counts(df: DataFrame, key_cols: Sequence[str], count: str) -> DataFrame:
    """The keys of ``_keyed(df, key_cols)``, each with its row count in
    column ``count``: groupBy-count, one shuffle."""
    key_cols = list(key_cols)
    return (_keyed(df, key_cols).groupBy(*[column(c) for c in key_cols])
            .agg(F.count(F.lit(1)).alias(count)))


def duplicate_keys(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Keys appearing more than once + how many extra copies (the
    reference's reported-duplicate-count semantics,
    reference src/v4/uniqueItems.js:20-27). Uniqueness holds over the
    rows with all key columns non-null."""
    return (
        _key_counts(df, key_cols, "n_copies")
        .filter(F.col("n_copies") > 1)
        .withColumn("n_duplicates", F.col("n_copies") - 1)
    )


def uniqueness_summary(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """One-row verdict for a uniqueness constraint over the rows with
    all key columns non-null (``n_rows`` counts those rows)."""
    per_key = _key_counts(df, key_cols, "n")
    # coalesce: no non-null key at all is 0 duplicates and a pass, not null
    n_dup = F.coalesce(F.sum(F.col("n") - 1), F.lit(0))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
        n_dup.alias("n_duplicates"),
        (n_dup == 0).alias("pass"),
    )


# -------------------------------------------------------------- referential


def referential_orphans(
    child: DataFrame,
    parent: DataFrame,
    fk: Sequence[str] | str,
    pk: Optional[Sequence[str] | str] = None,
    broadcast_parent: bool = False,
) -> DataFrame:
    """Child rows whose foreign key has no parent (left-anti join).

    ``broadcast_parent=True`` for small dimension tables (the 100 TB plan:
    broadcast the key set, no shuffle of the fact table). NULL FKs are not
    orphans (SQL semantics: unknown, caught by null-rate checks instead).
    """
    fk = [fk] if isinstance(fk, str) else list(fk)
    pk = fk if pk is None else ([pk] if isinstance(pk, str) else list(pk))
    keys = parent.select(*[column(p).alias(f) for p, f in zip(pk, fk)]).distinct()
    if broadcast_parent:
        keys = F.broadcast(keys)
    return _keyed(child, fk).join(keys, on=fk, how="left_anti")


def referential_summary(
    child: DataFrame, parent: DataFrame, fk, pk=None, broadcast_parent: bool = False
) -> DataFrame:
    orphans = referential_orphans(child, parent, fk, pk, broadcast_parent)
    return orphans.agg(
        F.count(F.lit(1)).alias("n_orphans"),
        (F.count(F.lit(1)) == 0).alias("pass"),
    )


def text_consistency(df: DataFrame, reference: DataFrame) -> DataFrame:
    """Per-row invariant vs a reference corpus: byte-identical ``text`` per
    ``url`` (BASELINE.json input_hint; semantics = the reference's enum
    deep-equality on strings, src/v4/enum.js:25, lifted to a keyed join).

    Returns mismatching keys with both hashes. Only (key, xxhash64(text))
    pairs shuffle — texts themselves never move.
    """
    a = df.select(F.col("url").alias("k"), F.xxhash64("text").alias("h_actual"))
    b = reference.select(F.col("url").alias("k"), F.xxhash64("text").alias("h_expected"))
    return (
        a.join(b, "k")
        .filter(~F.col("h_actual").eqNullSafe(F.col("h_expected")))
        .select(F.col("k").alias("url"), "h_actual", "h_expected")
    )


# ------------------------------------------------------------------- drift


def group_histogram(df: DataFrame, col: str) -> DataFrame:
    """Categorical histogram (drift input). NULL is its own bucket."""
    return (
        df.groupBy(F.coalesce(column(col).cast("string"), F.lit("<null>")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


def numeric_histogram(
    df: DataFrame, col: str, lo: float, hi: float, n_buckets: int
) -> DataFrame:
    """Fixed-width histogram via width_bucket (drift input; bounded-size
    aggregate regardless of input scale)."""
    return (
        df.filter(column(col).isNotNull())
        .groupBy(F.width_bucket(column(col), F.lit(lo), F.lit(hi), F.lit(n_buckets)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


def _aligned(current_hist: DataFrame, baseline_hist: DataFrame) -> DataFrame:
    """The two histograms' counts per ``bucket``, ``n_cur`` and ``n_base``,
    0 where a side has no such bucket."""
    cur = current_hist.select("bucket", F.col("n").alias("n_cur"))
    base = baseline_hist.select("bucket", F.col("n").alias("n_base"))
    return cur.join(base, "bucket", "full_outer").fillna(0, ["n_cur", "n_base"])


def chi_square_stat(current_hist: DataFrame, baseline_hist: DataFrame) -> DataFrame:
    """Chi-square statistic between two categorical histograms.

    chi2 = sum_b (o_b - e_b)^2 / e_b  with expected counts scaled from the
    baseline distribution to the current total. Computed over the (tiny)
    pre-aggregated histograms — never over raw rows (SURVEY.md §2.4). The
    statistic is emitted (rounded, so cross-engine float-sum order cannot
    flip the hash); p-value thresholds are the caller's policy. An empty
    side gives a NULL statistic, never an error, and ``dof`` is never
    negative.
    """
    joined = _aligned(current_hist, baseline_hist)
    totals = joined.agg(F.sum("n_cur").alias("t_cur"), F.sum("n_base").alias("t_base"))
    j = joined.crossJoin(F.broadcast(totals)).filter(F.col("n_base") > 0)
    expected = F.col("n_base") * F.col("t_cur") / F.col("t_base")
    # expected is 0 on every row when the current side is empty; with an
    # empty baseline no row is left, and the sum is NULL either way
    term = F.try_divide(F.pow(F.col("n_cur") - expected, 2), expected)
    return j.agg(
        F.round(F.sum(term), 4).alias("chi_square"),
        F.greatest(F.count(F.lit(1)) - 1, F.lit(0)).cast("long").alias("dof"),
    )


def ks_stat(current_hist: DataFrame, baseline_hist: DataFrame) -> DataFrame:
    """Kolmogorov-Smirnov statistic between two numeric histograms:
    max |ECDF_cur - ECDF_base| over bucket boundaries, via cumulative
    window over the (tiny) histogram (SURVEY.md §2.4 'cume_dist'). An
    empty side has no ECDF: the statistic is NULL, never an error."""
    from pyspark.sql import Window

    joined = _aligned(current_hist, baseline_hist)
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = joined.select(
        "bucket",
        (F.sum("n_cur").over(w)).alias("c_cur"),
        (F.sum("n_base").over(w)).alias("c_base"),
    )
    totals = joined.agg(F.sum("n_cur").alias("t_cur"), F.sum("n_base").alias("t_base"))
    return (
        ecdf.crossJoin(F.broadcast(totals))
        .select(
            F.abs(F.try_divide("c_cur", "t_cur") - F.try_divide("c_base", "t_base")).alias("d")
        )
        .agg(F.round(F.max("d"), 6).alias("ks_stat"))
    )


def schema_check(df: DataFrame, expected: dict) -> DataFrame:
    """TABLE-SCHEMA validation (the shape companion to the per-value
    keyword checks): compare the DataFrame's actual schema against an
    ``{column: spark_simple_type}`` contract -> one row per column with
    status ok / type_changed / missing / unexpected.

    A pure METADATA check — no data is scanned (at 10^12 rows a schema
    check must never cost a pass over the table); the result is a tiny
    local DataFrame so it composes with the other checks' report shape.
    """
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    rows = []
    for col in sorted(expected):
        want = expected[col]
        if col not in actual:
            status = "missing"
        elif actual[col] != want:
            status = "type_changed"
        else:
            status = "ok"
        rows.append((col, want, actual.get(col), status))
    for col in sorted(set(actual) - set(expected)):
        rows.append((col, None, actual[col], "unexpected"))
    return df.sparkSession.createDataFrame(
        rows,
        "col_name string, expected_type string, actual_type string, status string",
    )
