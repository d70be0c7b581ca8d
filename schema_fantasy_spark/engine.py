"""ValidationEngine facade: schema -> errors/verdict/violations/verdicts.

Entry-point parity (reference index.js:33-46):
  validateIn(schema, value)      -> ValidationEngine(schema).apply(df)
  validate(refs, schema, value)  -> ValidationEngine(schema, refs=...).apply(df)

Result contract (SURVEY.md §1.4), owned by this module: the backends
build only ``errors``; ``apply`` appends ``verdict``, and every per-group
pass/fail count sums ``verdict_rollup``.
  errors  : array<struct<path,keyword,message,expected,actual,depth>>
  verdict : size(errors) == 0
  violations     = select(id_cols, explode(errors))
  partition verdicts = groupBy(partition_cols).agg(verdict_rollup())
"""

from __future__ import annotations

from typing import Any, Dict, Iterable, List, Optional

from pyspark.sql import Column, DataFrame, functions as F

from schema_fantasy_spark.columnar import compile_columnar
from schema_fantasy_spark.compiler.plan import compile_schema
from schema_fantasy_spark.dynamic import kernel_udf, with_errors


def _verdict_counts() -> Dict[str, tuple]:
    """The rollup's per-row counts, in ``scale.salted_agg``'s form
    {name: (column, "count" | "sum")}."""
    return {
        "n_rows": (F.lit(1), "count"),
        "n_invalid": ((~F.col("verdict")).cast("long"), "sum"),
        "n_errors": (F.size("errors"), "sum"),
    }


def verdict_rollup() -> List[Column]:
    """The verdict rollup: ``n_rows``, ``n_invalid`` and ``n_errors``
    (bigint) of a validated frame or group. Each adds up a per-row count,
    so a two-phase aggregate can split it (``scale.salted_agg``), and a
    global aggregate over no rows gives 0, never null. A group passes
    iff ``n_invalid == 0``."""
    return [F.coalesce(getattr(F, fn)(c), F.lit(0)).alias(name)
            for name, (c, fn) in _verdict_counts().items()]


class ValidationEngine:
    """Compile once on the driver; apply to any number of DataFrames."""

    def __init__(
        self,
        schema: Any,
        refs: Optional[Dict[str, Any]] = None,
        mode: str = "columnar",
    ):
        """modes: 'columnar' (typed tables, the scale path), 'dynamic'
        (JSON strings via Arrow-batched compiled kernel — the measured
        default for dynamic docs), 'variant' (JSON strings via Spark 4
        VariantType expressions, JVM-side; see variant.py for when it
        wins). Dynamic mode generates its kernel and builds its UDF here,
        once; every ``apply`` reuses them.

        Columnar mode runs no Python: it counts min/maxLength in raw code
        points (documented divergence). Dynamic mode counts them after NFC
        normalization like the reference (src/v4/minLength.js:19-20) and
        is the exact path for corpora with decomposed combining
        sequences."""
        if mode not in ("columnar", "dynamic", "variant"):
            raise ValueError(f"unknown mode {mode!r}")
        self.schema = schema
        self.refs = refs or {}
        self.mode = mode
        self._plan = self._udf = None
        if mode == "dynamic":
            self._plan = compile_schema(schema, refs=self.refs)
            self._udf = kernel_udf(self._plan)
        elif mode == "columnar":
            self._plan = compile_columnar(schema, refs=self.refs)
        elif mode == "variant":
            from schema_fantasy_spark.variant import compile_variant

            self._plan = compile_variant(schema, refs=self.refs)

    # ------------------------------------------------------------- validate

    def apply(self, df: DataFrame, doc_col: Optional[str] = None) -> DataFrame:
        """Append ``errors`` and ``verdict``. ``doc_col`` names the
        JSON-string column in dynamic and variant mode; columnar mode
        validates the whole row."""
        if self.mode == "columnar":
            out = df.withColumn("errors", self._plan.errors_column(df))
        elif doc_col is None:
            raise ValueError(f"{self.mode} mode needs doc_col (a JSON-string column)")
        elif self.mode == "dynamic":
            out = with_errors(df, doc_col, self._udf)
        else:
            out = self._plan.with_errors(df, doc_col)
        return out.withColumn("verdict", F.size(F.col("errors")) == 0)

    # ----------------------------------------------------------- violations

    @staticmethod
    def violations(validated: DataFrame, id_cols: Iterable[str]) -> DataFrame:
        """One row per (document, error): the violation-rows sink.

        No verdict filter (``explode`` already emits zero rows for an
        empty or null errors array), and the errors column crosses a
        Generate BARRIER before the explode: Spark's
        InferFiltersFromGenerate infers ``size(errors) > 0 AND
        isnotnull(errors)`` below the explode, and without the barrier
        that inferred Filter re-evaluates the errors expression — for
        the Arrow-UDF mode a SECOND full kernel pass over every
        document (two ArrowEvalPython nodes, measured ~2x the query),
        for the columnar mode a re-inlined expression tree (CLAUDE.md
        trap #1). The barrier costs one array wrap of an
        already-computed value; the inferred filter then tests the
        barrier attribute, not the kernel."""
        barrier = validated.select(
            *[F.col(c) for c in id_cols],
            F.explode(F.array(F.col("errors"))).alias("_errs"),
        )
        err = F.explode(F.col("_errs")).alias("error")
        return (
            barrier.select(*[F.col(c) for c in id_cols], err)
            .select(
                *id_cols,
                F.col("error.path").alias("path"),
                F.col("error.keyword").alias("keyword"),
                F.col("error.message").alias("message"),
                F.col("error.expected").alias("expected"),
                F.col("error.actual").alias("actual"),
                F.col("error.depth").alias("depth"),
            )
        )

    # ----------------------------------------------------- partition verdicts

    @staticmethod
    def partition_verdicts(validated: DataFrame, partition_cols: Iterable[str]) -> DataFrame:
        """Per-partition pass/fail + counts (partial+final hash agg; the
        only shuffle is on the partition keys)."""
        partition_cols = list(partition_cols)
        return validated.groupBy(*partition_cols).agg(*verdict_rollup()).select(
            *partition_cols,
            "n_rows",
            (F.col("n_rows") - F.col("n_invalid")).alias("n_valid"),
            "n_invalid",
            "n_errors",
            (F.col("n_invalid") == 0).alias("pass"),
        )

    @staticmethod
    def error_breakdown(validated: DataFrame, group_cols: Iterable[str] = ()) -> DataFrame:
        """Violation counts per (group, keyword, path) — the monitoring
        rollup. Exploding only the (tiny) errors arrays of failing rows;
        valid rows contribute nothing to the shuffle."""
        group_cols = list(group_cols)
        err = F.explode(F.col("errors")).alias("error")
        return (
            validated.filter(F.size(F.col("errors")) > 0)
            .select(*group_cols, err)
            .groupBy(
                *group_cols,
                F.col("error.keyword").alias("keyword"),
                F.array_join(F.col("error.path"), "/").alias("path"),
            )
            .agg(F.count(F.lit(1)).alias("n_violations"))
        )
