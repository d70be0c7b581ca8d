"""ValidationEngine facade: schema -> errors/verdict/violations/verdicts.

Entry-point parity (reference index.js:33-46):
  validateIn(schema, value)      -> ValidationEngine(schema).apply(df)
  validate(refs, schema, value)  -> ValidationEngine(schema, refs=...).apply(df)

Result contract (SURVEY.md §1.4):
  errors  : array<struct<path,keyword,message,expected,actual,depth>>
  verdict : size(errors) == 0
  violations     = filter(~verdict) . select(id_cols, explode(errors))
  partition verdicts = groupBy(partition_cols).agg(...)   -- shuffle #1
"""

from __future__ import annotations

from typing import Any, Dict, Iterable, Optional

from pyspark.sql import DataFrame, functions as F

from schema_fantasy_spark.columnar import ColumnarPlan, compile_columnar
from schema_fantasy_spark.compiler.plan import compile_schema
from schema_fantasy_spark.dynamic import apply_udf, kernel_udf


class ValidationEngine:
    """Compile once on the driver; apply to any number of DataFrames."""

    def __init__(
        self,
        schema: Any,
        refs: Optional[Dict[str, Any]] = None,
        mode: str = "columnar",
        nfc_lengths: bool = False,
    ):
        """modes: 'columnar' (typed tables, the scale path), 'dynamic'
        (JSON strings via Arrow-batched compiled kernel — the measured
        default for dynamic docs), 'variant' (JSON strings via Spark 4
        VariantType expressions, JVM-side; see variant.py for when it
        wins). Dynamic mode generates its kernel and builds its UDF here,
        once; every ``apply`` reuses them.

        ``nfc_lengths=True`` (columnar mode) counts min/maxLength in NFC
        like the reference (src/v4/minLength.js:19-20) via one vectorized
        Arrow UDF slice — the exact-parity option for corpora with
        decomposed combining sequences; default stays pure-JVM raw code
        points (documented divergence). Dynamic mode is always NFC-exact."""
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
            self._plan = compile_columnar(
                schema, refs=self.refs, nfc_lengths=nfc_lengths
            )
        elif mode == "variant":
            from schema_fantasy_spark.variant import compile_variant

            self._plan = compile_variant(schema, refs=self.refs)

    # ------------------------------------------------------------- validate

    def apply(
        self,
        df: DataFrame,
        doc_col: Optional[str] = None,
        errors_col: str = "errors",
        verdict_col: str = "verdict",
    ) -> DataFrame:
        """Append errors + verdict. ``doc_col`` names the JSON-string
        column in dynamic mode; columnar mode validates the whole row."""
        if self.mode == "dynamic":
            if doc_col is None:
                raise ValueError("dynamic mode needs doc_col (a JSON-string column)")
            return apply_udf(df, doc_col, self._udf, errors_col, verdict_col)
        if self.mode == "variant":
            if doc_col is None:
                raise ValueError("variant mode needs doc_col (a JSON-string column)")
            return self._plan.apply(df, doc_col, errors_col, verdict_col)
        return self._plan.apply(df, errors_col, verdict_col)

    # ----------------------------------------------------------- violations

    @staticmethod
    def violations(
        validated: DataFrame,
        id_cols: Iterable[str],
        errors_col: str = "errors",
        verdict_col: str = "verdict",
    ) -> DataFrame:
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
            F.explode(F.array(F.col(errors_col))).alias("_errs"),
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
    def partition_verdicts(
        validated: DataFrame,
        partition_cols: Iterable[str],
        verdict_col: str = "verdict",
        errors_col: str = "errors",
    ) -> DataFrame:
        """Per-partition pass/fail + counts (partial+final hash agg; the
        only shuffle is on the partition keys)."""
        partition_cols = list(partition_cols)
        return validated.groupBy(*partition_cols).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(verdict_col).cast("long")).alias("n_valid"),
            F.sum((~F.col(verdict_col)).cast("long")).alias("n_invalid"),
            F.sum(F.size(errors_col)).alias("n_errors"),
            (F.sum((~F.col(verdict_col)).cast("long")) == 0).alias("pass"),
        )

    @staticmethod
    def error_breakdown(
        validated: DataFrame,
        group_cols: Iterable[str] = (),
        errors_col: str = "errors",
    ) -> DataFrame:
        """Violation counts per (group, keyword, path) — the monitoring
        rollup. Exploding only the (tiny) errors arrays of failing rows;
        valid rows contribute nothing to the shuffle."""
        group_cols = list(group_cols)
        err = F.explode(F.col(errors_col)).alias("error")
        return (
            validated.filter(F.size(F.col(errors_col)) > 0)
            .select(*group_cols, err)
            .groupBy(
                *group_cols,
                F.col("error.keyword").alias("keyword"),
                F.array_join(F.col("error.path"), "/").alias("path"),
            )
            .agg(F.count(F.lit(1)).alias("n_violations"))
        )

    @staticmethod
    def top_violations_per_partition(
        violations: DataFrame,
        partition_cols: Iterable[str],
        k: int,
        order_col: str = "keyword",
    ) -> DataFrame:
        """Bound violation-row output at scale: top-k per partition via a
        window (SURVEY.md §2.4 sorts/limits)."""
        from pyspark.sql import Window

        w = (
            Window.partitionBy(*partition_cols).orderBy(F.col(order_col))
        )
        return (
            violations.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .drop("rn")
        )
