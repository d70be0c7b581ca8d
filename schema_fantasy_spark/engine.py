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
  observed violations = violations + observe(verdict_rollup()), one job
  error breakdown = violations.groupBy(group_cols, keyword, path).count()
  partition verdicts = groupBy(partition_cols).agg(verdict_rollup())

The result plans are written as SQL text (``selectExpr``, ``F.expr``):
under PySpark 4 every ``F.*`` call is about a dozen py4j round trips
(CLAUDE.md trap 16), and building ``violations`` one call per column took
261 of them, 47-65 ms of driver time per plan.
"""

from __future__ import annotations

from typing import Any, Dict, Iterable, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, Observation, functions as F

from schema_fantasy_spark.columnar import compile_columnar
from schema_fantasy_spark.columns import column, quoted
from schema_fantasy_spark.compiler.plan import compile_schema
from schema_fantasy_spark.dynamic import kernel_udf, with_errors


def verdict_rollup() -> List[Column]:
    """The verdict rollup: ``n_rows``, ``n_invalid`` and ``n_errors``
    (bigint) of a validated frame or group. Each adds up a per-row count,
    so Spark plans a map-side partial aggregate for it, and a global
    aggregate over no rows gives 0, never null. A group passes iff
    ``n_invalid == 0``."""
    return [
        F.expr("count(1) AS n_rows"),
        F.expr("coalesce(sum(CAST(NOT verdict AS BIGINT)), 0) AS n_invalid"),
        F.expr("coalesce(sum(size(errors)), 0) AS n_errors"),
    ]


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
        return out.withColumn("verdict", F.expr("size(errors) = 0"))

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
        ids = [quoted(c) for c in id_cols]
        barrier = validated.selectExpr(*ids, "explode(array(errors)) AS _errs")
        return barrier.selectExpr(*ids, "inline(_errs)")

    @staticmethod
    def observed_violations(validated: DataFrame, id_cols: Iterable[str],
                            *aggs: Column) -> Tuple[DataFrame, Observation]:
        """The violations of ``validated``, and an ``Observation`` of
        ``verdict_rollup()`` plus ``aggs`` over all its rows that is read
        once an action on the violations has ended: one job, no second
        pass. The observe node sits upstream of the violations' Generate
        barrier and Catalyst pushes no filter below it, so the filter
        inferred from the explode cannot drop a valid row from the count."""
        obs = Observation()
        observed = validated.observe(obs, *verdict_rollup(), *aggs)
        return ValidationEngine.violations(observed, list(id_cols)), obs

    # ----------------------------------------------------- partition verdicts

    @staticmethod
    def partition_verdicts(validated: DataFrame, partition_cols: Iterable[str]) -> DataFrame:
        """Per-partition pass/fail + counts (partial+final hash agg; the
        only shuffle is on the partition keys). Every grouped verdict goes
        through here: per day and per host (``scale.host_of``)."""
        partition_cols = list(partition_cols)
        grouped = validated.groupBy(*[column(c) for c in partition_cols])
        return grouped.agg(*verdict_rollup()).selectExpr(
            *[quoted(c) for c in partition_cols], "n_rows", "n_rows - n_invalid AS n_valid",
            "n_invalid", "n_errors", "n_invalid = 0 AS `pass`")

    @staticmethod
    def error_breakdown(validated: DataFrame, group_cols: Iterable[str] = ()) -> DataFrame:
        """Violation counts per (group, keyword, path) — the monitoring
        rollup, a count over ``violations``, so the errors column is
        evaluated once, behind its barrier; valid rows contribute nothing
        to the shuffle."""
        group_cols = list(group_cols)
        return (
            ValidationEngine.violations(validated, group_cols)
            .groupBy(*[column(c) for c in group_cols], "keyword",
                     F.expr("array_join(path, '/') AS path"))
            .agg(F.expr("count(1) AS n_violations"))
        )
