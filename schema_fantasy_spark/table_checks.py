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

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F


# ------------------------------------------------------------- column stats


def null_rates(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Long-format per-column null counts + rate. One pass, one row out
    per column (exact longs; the rate is a single final division)."""
    aggs: List[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"))
    wide = df.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', __nn_{c}" for c in cols)
    return (
        wide.selectExpr("n_rows", f"stack({len(cols)}, {stack_expr}) as (col_name, n_null)")
        .select(
            "col_name",
            "n_rows",
            "n_null",
            F.round(F.col("n_null") / F.col("n_rows"), 6).alias("null_rate"),
        )
        .orderBy("col_name")
    )


def column_stats(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Long-format min/max/exact-distinct/non-null counts per column.

    ONE scan of ``df`` for every column (a wide agg unstacked to long
    format with ``stack``, the same shape :func:`percentiles` uses).
    The k ``count_distinct`` aggregates on different columns plan
    through Spark's Expand — a k-way row expansion but a SINGLE pass
    over the table, strictly better than the k full scans a
    per-column ``df.agg`` union costs at 100 TB (the previous shape;
    tests/test_plan_audit.py now asserts the one-scan plan).

    Exact ``count(distinct)`` here because the oracle compares values; the
    scale path is :func:`cardinality_approx` (HLL — no Expand either).
    """
    aggs: List[Column] = []
    for i, c in enumerate(cols):
        aggs += [
            F.min(c).cast("double").alias(f"__mn_{i}"),
            F.max(c).cast("double").alias(f"__mx_{i}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{i}"),
            F.count(c).alias(f"__nn_{i}"),
        ]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', __mn_{i}, __mx_{i}, __nd_{i}, __nn_{i}" for i, c in enumerate(cols)
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_expr}) "
        "as (col_name, min_val, max_val, n_distinct, n_nonnull)"
    ).orderBy("col_name")


def percentiles(
    df: DataFrame, cols: Sequence[str], probs: Sequence[float] = (0.25, 0.5, 0.75, 0.95)
) -> DataFrame:
    """Exact percentiles per column (long format). Exact `percentile`
    keeps the oracle comparable; the 10^12-scale path swaps in
    ``approx_percentile`` (t-digest sketch, same call shape).

    One ARRAY-form percentile aggregate per column: the scalar form
    buffers and sorts the column's values once PER PROBABILITY (four
    separate copies for the default probs — measured 4x this check),
    the array form once per column. All columns aggregate in a single
    pass; the long format unstacks the one result row."""
    arr = "array(" + ",".join(str(p) for p in probs) + ")"
    wide = df.agg(*[
        F.expr(f"percentile({c}, {arr})").alias(f"__p_{i}")
        for i, c in enumerate(cols)
    ])
    # unstack with ONE stack generator — a per-column select unioned
    # back together re-plans the agg subtree per column (k scans of the
    # table; the same N-scan shape column_stats had)
    stack_expr = ", ".join(
        f"'{c}', " + ", ".join(
            f"round(element_at(__p_{i}, {k + 1}), 4)" for k in range(len(probs))
        )
        for i, c in enumerate(cols)
    )
    names = ", ".join(f"p{int(p * 100)}" for p in probs)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_expr}) as (col_name, {names})"
    ).orderBy("col_name")


def cardinality_approx(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """HLL cardinality per column, to a 1% relative standard deviation —
    the 10^12-scale path (single pass, no shuffle of raw values,
    fixed-size sketches)."""
    aggs = [F.approx_count_distinct(c, 0.01).alias(f"__ad_{c}") for c in cols]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', __ad_{c}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_expr}) as (col_name, approx_distinct)"
    ).orderBy("col_name")


# --------------------------------------------------------------- uniqueness


def _keyed(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Rows whose key columns are all non-null. A NULL key is unknown,
    not a value: it duplicates nothing and is no orphan (the null-rate
    check's job)."""
    for c in key_cols:
        df = df.filter(F.col(c).isNotNull())
    return df


def duplicate_keys(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Keys appearing more than once + how many extra copies (the
    reference's reported-duplicate-count semantics,
    reference src/v4/uniqueItems.js:20-27). groupBy-count, one shuffle.
    Uniqueness holds over the rows with all key columns non-null."""
    key_cols = list(key_cols)
    return (
        _keyed(df, key_cols).groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .withColumn("n_duplicates", F.col("n_copies") - 1)
    )


def uniqueness_summary(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """One-row verdict for a uniqueness constraint over the rows with
    all key columns non-null (``n_rows`` counts those rows)."""
    key_cols = list(key_cols)
    per_key = _keyed(df, key_cols).groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
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
    keys = parent.select(*[F.col(p).alias(f) for p, f in zip(pk, fk)]).distinct()
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


def text_consistency(
    df: DataFrame,
    reference: DataFrame,
    key_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Per-row invariant vs a reference corpus: byte-identical ``text`` per
    ``key`` (BASELINE.json input_hint; semantics = the reference's enum
    deep-equality on strings, src/v4/enum.js:25, lifted to a keyed join).

    Returns mismatching keys with both hashes. Only (key, xxhash64(text))
    pairs shuffle — texts themselves never move.
    """
    a = df.select(F.col(key_col).alias("k"), F.xxhash64(F.col(text_col)).alias("h_actual"))
    b = reference.select(
        F.col(key_col).alias("k"), F.xxhash64(F.col(text_col)).alias("h_expected")
    )
    return (
        a.join(b, "k")
        .filter(~F.col("h_actual").eqNullSafe(F.col("h_expected")))
        .select(F.col("k").alias(key_col), "h_actual", "h_expected")
    )


# ------------------------------------------------------------------- drift


def group_histogram(df: DataFrame, col: str) -> DataFrame:
    """Categorical histogram (drift input). NULL is its own bucket."""
    return (
        df.groupBy(F.coalesce(F.col(col).cast("string"), F.lit("<null>")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


def numeric_histogram(
    df: DataFrame, col: str, lo: float, hi: float, n_buckets: int
) -> DataFrame:
    """Fixed-width histogram via width_bucket (drift input; bounded-size
    aggregate regardless of input scale)."""
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.width_bucket(F.col(col), F.lit(lo), F.lit(hi), F.lit(n_buckets)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


def chi_square_stat(
    current_hist: DataFrame, baseline_hist: DataFrame, bucket_col: str = "bucket"
) -> DataFrame:
    """Chi-square statistic between two categorical histograms.

    chi2 = sum_b (o_b - e_b)^2 / e_b  with expected counts scaled from the
    baseline distribution to the current total. Computed over the (tiny)
    pre-aggregated histograms — never over raw rows (SURVEY.md §2.4). The
    statistic is emitted (rounded, so cross-engine float-sum order cannot
    flip the hash); p-value thresholds are the caller's policy. An empty
    side gives a NULL statistic, never an error, and ``dof`` is never
    negative.
    """
    cur = current_hist.select(F.col(bucket_col).alias("bucket"), F.col("n").alias("n_cur"))
    base = baseline_hist.select(F.col(bucket_col).alias("bucket"), F.col("n").alias("n_base"))
    joined = cur.join(base, "bucket", "full_outer").fillna(0, ["n_cur", "n_base"])
    totals = joined.agg(
        F.sum("n_cur").alias("t_cur"), F.sum("n_base").alias("t_base")
    )
    j = joined.crossJoin(F.broadcast(totals)).filter(F.col("n_base") > 0)
    expected = F.col("n_base") * F.col("t_cur") / F.col("t_base")
    # expected is 0 on every row when the current side is empty; with an
    # empty baseline no row is left, and the sum is NULL either way
    term = F.try_divide(F.pow(F.col("n_cur") - expected, 2), expected)
    return j.agg(
        F.round(F.sum(term), 4).alias("chi_square"),
        F.greatest(F.count(F.lit(1)) - 1, F.lit(0)).cast("long").alias("dof"),
    )


def ks_stat(
    current_hist: DataFrame, baseline_hist: DataFrame, bucket_col: str = "bucket"
) -> DataFrame:
    """Kolmogorov-Smirnov statistic between two numeric histograms:
    max |ECDF_cur - ECDF_base| over bucket boundaries, via cumulative
    window over the (tiny) histogram (SURVEY.md §2.4 'cume_dist'). An
    empty side has no ECDF: the statistic is NULL, never an error."""
    from pyspark.sql import Window

    cur = current_hist.select(F.col(bucket_col).alias("bucket"), F.col("n").alias("n_cur"))
    base = baseline_hist.select(F.col(bucket_col).alias("bucket"), F.col("n").alias("n_base"))
    joined = cur.join(base, "bucket", "full_outer").fillna(0, ["n_cur", "n_base"])
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
