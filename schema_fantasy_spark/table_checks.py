"""Table-scope constraint checks (ENGINE-NEW, SURVEY.md §2.5).

No per-value reference counterpart — these lift the reference's keyword
semantics to column/table scope and inherit its result contract
(accumulated violations with paths):

* null rate        <- ``required`` lifted to column scope
                      (reference src/v4/required.js:18-24)
* min/max bounds   <- ``minimum``/``maximum`` (reference src/v4/minimum.js:22-27)
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


def column_profile_exact(
    df: DataFrame,
    cols: Sequence[str],
    pct_cols: Sequence[str],
    probs: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """:func:`column_stats` ⋈ :func:`percentiles` from ONE distinct-value
    count table — the scale shape for EXACT numeric profiling.

    The naive shape (kept above for generic callers) buffers every raw
    value into the ``percentile`` aggregate: a value->count map built
    row-at-a-time per partition, merged and SORTED in the single final
    reduce task — ~30 s single-task for one 6M-row double column with
    ~6M distinct values, at any core count. Here the heavy reduction is
    a ``groupBy(col_name, value)`` count (partial+final hash agg, fully
    parallel, one scan of the table via ``stack``), after which:

    * stats rows (min/max/distinct/non-null) are trivial aggregates of
      the count table — the Expand (k-way row duplication) that
      ``count_distinct`` on k columns costs is gone too;
    * the 8 percentile ranks per column are located by range-partitioned
      per-partition subtotals (collect of n_partitions×k rows, the only
      driver work) + one partition-local sorted-cumsum lookup;
    * interpolation replays ``Percentile.getPercentile``'s exact double
      arithmetic — ``(hi - pos)*lower + (pos - lo)*higher`` with
      ``pos = p*(N-1)`` — verified bit-equal against the builtin on
      randomized inputs (tests/test_scale.py::test_column_profile_exact).

    The count table is persisted for the three passes, the range layout
    checkpointed, and both released before returning (bounded
    lifecycle); the returned frame is a literal of k rows, so downstream
    consumers pay nothing. Only sound
    for EXACT profiling of columns whose distinct-value count table is
    shuffle-able — i.e. strictly more scalable than the builtin, whose
    final task holds the same table in one heap."""
    import math
    from collections import defaultdict

    from pyspark.sql import types as T

    spark = df.sparkSession
    cols = list(cols)
    # internal key is a small int, not the column-name string: the
    # count-table shuffle carries n_distinct rows and the name literal
    # would be its widest field
    pct_cids = [cols.index(c) for c in pct_cols]
    stack_expr = ", ".join(
        f"{i}, cast({c} as double)" for i, c in enumerate(cols)
    )
    stacked = df.selectExpr(
        f"stack({len(cols)}, {stack_expr}) as (cid, value)"
    )
    cnts = (
        stacked.groupBy("cid", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    ranked = None
    try:
        nparts = max(spark.sparkContext.defaultParallelism, 1)
        # checkpointed: the range exchange samples boundaries per JOB
        # (and AQE may coalesce it), so the subtotal pass and the
        # rank-lookup pass must read the SAME materialized partition
        # layout. An eager localCheckpoint freezes it (trap 21); a bare
        # persist would not survive a lost cached partition, whose
        # recompute could resample boundaries and silently shift ranks.
        # A lost checkpoint block fails the job instead
        ranked = (
            cnts.filter(
                F.col("value").isNotNull() & F.col("cid").isin(pct_cids)
            )
            .repartitionByRange(nparts, "cid", "value")
            .localCheckpoint()
        )
        # the subtotal pass and the stats pass are independent reads of
        # the checkpointed ranks and the persisted count table: overlap
        # them (guide §2.6 — actions are only sequential because driver
        # code calls them sequentially), which hides one small-job
        # latency per profile
        from concurrent.futures import ThreadPoolExecutor

        def _part_rows():
            return (
                ranked.groupBy(F.spark_partition_id().alias("pid"), "cid")
                .agg(F.sum("cnt").alias("tot"))
                .collect()
            )

        def _stats_rows():
            return (
                cnts.groupBy("cid")
                .agg(
                    F.min("value").alias("min_val"),
                    F.max("value").alias("max_val"),
                    F.count("value").alias("n_distinct"),
                    F.coalesce(
                        F.sum(
                            F.when(F.col("value").isNotNull(), F.col("cnt"))
                        ),
                        F.lit(0),
                    ).alias("n_nonnull"),
                )
                .collect()
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            part_f = pool.submit(_part_rows)
            stats_f = pool.submit(_stats_rows)
            part_rows = part_f.result()
            stats = stats_f.result()
        parts = defaultdict(list)  # cid -> [(pid, tot)] in range order
        for r in part_rows:
            parts[r["cid"]].append((r["pid"], r["tot"]))
        for ps in parts.values():
            ps.sort()
        totals = {c: sum(t for _, t in ps) for c, ps in parts.items()}
        # 0-based global ranks needed per column (floor/ceil of each pos)
        poss = {}   # (cid, prob_idx) -> (pos, lo, hi)
        need = defaultdict(set)  # cid -> {rank}
        for c in pct_cids:
            n = totals.get(c, 0)
            if n == 0:
                continue
            for i, p in enumerate(probs):
                pos = p * (n - 1)
                lo, hi = math.floor(pos), math.ceil(pos)
                poss[(c, i)] = (pos, lo, hi)
                need[c].update((int(lo), int(hi)))
        targets = defaultdict(list)  # pid -> [(cid, global_rank, local_rank)]
        for c, ranks in need.items():
            for r in sorted(ranks):
                off = 0
                for pid, tot in parts[c]:
                    if r < off + tot:
                        targets[pid].append((c, r, r - off))
                        break
                    off += tot
        bc = spark.sparkContext.broadcast(dict(targets))

        def find(batches):
            import pandas as pd
            from pyspark import TaskContext

            want = bc.value.get(TaskContext.get().partitionId())
            got = list(batches)
            out = {"cid": [], "rank": [], "value": []}
            if want and got:
                pdf = pd.concat(got, ignore_index=True)
                for c in sorted({w[0] for w in want}):
                    sub = pdf[pdf["cid"] == c].sort_values("value")
                    cum = sub["cnt"].cumsum().to_numpy()
                    vals = sub["value"].to_numpy()
                    for cc, glob_r, loc_r in want:
                        if cc != c:
                            continue
                        # first value whose cumulative count > local rank
                        idx = int(cum.searchsorted(loc_r + 1))
                        out["cid"].append(c)
                        out["rank"].append(glob_r)
                        out["value"].append(float(vals[idx]))
            yield pd.DataFrame({
                "cid": pd.Series(out["cid"], dtype="int32"),
                "rank": pd.Series(out["rank"], dtype="int64"),
                "value": pd.Series(out["value"], dtype="float64"),
            })

        found = ranked.mapInPandas(
            find, "cid int, rank long, value double"
        ).collect()
        val_at = {(r["cid"], r["rank"]): r["value"] for r in found}
    finally:
        if ranked is not None:
            # no public API drops a local checkpoint's blocks before the
            # driver garbage-collects its RDD; unpersist that RDD here
            ranked._jdf.queryExecution().logical().rdd().unpersist(False)
        cnts.unpersist()
    rows = []
    by_cid = {r["cid"]: r for r in stats}
    for c in sorted(range(len(cols)), key=lambda i: cols[i]):
        s = by_cid.get(c)
        if s is None:
            # empty input: the wide-agg shape still emits one row per
            # column (count aggregates over zero rows yield one 0-row);
            # mirror it so the two shapes stay interchangeable
            rows.append((cols[c], None, None, 0, 0,
                         *[None] * len(probs)))
            continue
        pvals = []
        for i, _p in enumerate(probs):
            if (c, i) not in poss:
                pvals.append(None)
            else:
                pos, lo, hi = poss[(c, i)]
                lk = val_at[(c, int(lo))]
                hk = val_at[(c, int(hi))]
                v = lk if (hi == lo or lk == hk) else (
                    (hi - pos) * lk + (pos - lo) * hk
                )
                pvals.append(float(v))
        rows.append((cols[c], s["min_val"], s["max_val"], s["n_distinct"],
                     s["n_nonnull"], *pvals))
    names = [f"p{int(p * 100)}" for p in probs]
    schema = T.StructType(
        [
            T.StructField("col_name", T.StringType()),
            T.StructField("min_val", T.DoubleType()),
            T.StructField("max_val", T.DoubleType()),
            T.StructField("n_distinct", T.LongType()),
            T.StructField("n_nonnull", T.LongType()),
        ]
        + [T.StructField(n, T.DoubleType()) for n in names]
    )
    out = spark.createDataFrame(rows, schema)
    return out.select(
        "col_name", "min_val", "max_val", "n_distinct", "n_nonnull",
        *[F.round(F.col(n), 4).alias(n) for n in names],
    )


def cardinality_approx(df: DataFrame, cols: Sequence[str], rsd: float = 0.01) -> DataFrame:
    """HLL cardinality per column — the 10^12-scale path (single pass,
    no shuffle of raw values, fixed-size sketches)."""
    aggs = [F.approx_count_distinct(c, rsd).alias(f"__ad_{c}") for c in cols]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', __ad_{c}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_expr}) as (col_name, approx_distinct)"
    ).orderBy("col_name")


def bounds_check(
    df: DataFrame,
    col: str,
    minimum=None,
    maximum=None,
    id_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-row min/max bound violations (keyword semantics at table scope)."""
    conds = []
    if minimum is not None:
        conds.append((F.col(col) < minimum, f"less than {minimum}", "minimum"))
    if maximum is not None:
        conds.append((F.col(col) > maximum, f"greater than {maximum}", "maximum"))
    out = None
    for cond, msg, kw in conds:
        part = df.filter(F.col(col).isNotNull() & cond).select(
            *id_cols,
            F.lit(col).alias("col_name"),
            F.lit(kw).alias("keyword"),
            F.lit(msg).alias("message"),
            F.col(col).cast("string").alias("actual"),
        )
        out = part if out is None else out.unionAll(part)
    return out


# --------------------------------------------------------------- uniqueness


def duplicate_keys(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Keys appearing more than once + how many extra copies (the
    reference's reported-duplicate-count semantics,
    reference src/v4/uniqueItems.js:20-27). groupBy-count, one shuffle."""
    key_cols = list(key_cols)
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .withColumn("n_duplicates", F.col("n_copies") - 1)
    )


def uniqueness_violations(
    df: DataFrame, key_cols: Sequence[str], select_cols: Optional[Sequence[str]] = None
) -> DataFrame:
    """All rows participating in a duplicated key: groupBy-count +
    semi-join back (cheaper at scale than a full window over every row —
    SURVEY.md §2.4 'window functions')."""
    dups = duplicate_keys(df, key_cols).select(*key_cols)
    out = df.join(dups, on=list(key_cols), how="left_semi")
    return out.select(*select_cols) if select_cols else out


def uniqueness_summary(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """One-row verdict for a uniqueness constraint."""
    key_cols = list(key_cols)
    per_key = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0)).alias("n_duplicates"),
        (F.sum(F.when(F.col("n") > 1, 1).otherwise(0)) == 0).alias("pass"),
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
    non_null = child
    for f in fk:
        non_null = non_null.filter(F.col(f).isNotNull())
    return non_null.join(keys, on=fk, how="left_anti")


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
    method: str = "xxhash64",
) -> DataFrame:
    """Per-row invariant vs a reference corpus: byte-identical ``text`` per
    ``key`` (BASELINE.json input_hint; semantics = the reference's enum
    deep-equality on strings, src/v4/enum.js:25, lifted to a keyed join).

    Returns mismatching keys with both hashes. Only (key, xxhash64(text))
    pairs shuffle — texts themselves never move.
    """
    h = F.md5 if method == "md5" else F.xxhash64  # md5 = oracle-comparable
    a = df.select(F.col(key_col).alias("k"), h(F.col(text_col)).alias("h_actual"))
    b = reference.select(
        F.col(key_col).alias("k"), h(F.col(text_col)).alias("h_expected")
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
    flip the hash); p-value thresholds are the caller's policy.
    """
    cur = current_hist.select(F.col(bucket_col).alias("bucket"), F.col("n").alias("n_cur"))
    base = baseline_hist.select(F.col(bucket_col).alias("bucket"), F.col("n").alias("n_base"))
    joined = cur.join(base, "bucket", "full_outer").fillna(0, ["n_cur", "n_base"])
    totals = joined.agg(
        F.sum("n_cur").alias("t_cur"), F.sum("n_base").alias("t_base")
    )
    j = joined.crossJoin(F.broadcast(totals)).filter(F.col("n_base") > 0)
    term = F.pow(F.col("n_cur") - F.col("n_base") * F.col("t_cur") / F.col("t_base"), 2) / (
        F.col("n_base") * F.col("t_cur") / F.col("t_base")
    )
    return j.agg(
        F.round(F.sum(term), 4).alias("chi_square"),
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
    )


def ks_stat(
    current_hist: DataFrame, baseline_hist: DataFrame, bucket_col: str = "bucket"
) -> DataFrame:
    """Kolmogorov-Smirnov statistic between two numeric histograms:
    max |ECDF_cur - ECDF_base| over bucket boundaries, via cumulative
    window over the (tiny) histogram (SURVEY.md §2.4 'cume_dist')."""
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
            F.abs(F.col("c_cur") / F.col("t_cur") - F.col("c_base") / F.col("t_base")).alias("d")
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
