"""CheckSuite — the user-facing bundle: schema validation + table-scope
constraints in one run, one report.

This is the reference's applicative accumulation lifted to table scope
(reference index.js:56-63: every keyword evaluates, failures concatenate —
here every CHECK evaluates, all outcomes land in one report; no
short-circuit). A suite compiles once; ``run(df)`` executes:

* the row-level schema plan (one scan) -> verdict counts + violation rows,
* each registered table check (bounded aggregates / joins),

and returns a ``SuiteReport`` with a uniform results frame:

    check:string  scope:string  pass:boolean  metric:double  detail:string
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from schema_fantasy_spark import table_checks as tc
from schema_fantasy_spark.engine import ValidationEngine, verdict_rollup


@dataclass
class CheckResult:
    check: str
    scope: str
    passed: bool
    metric: Optional[float]
    detail: str

    def as_tuple(self):
        return (self.check, self.scope, self.passed,
                float(self.metric) if self.metric is not None else None, self.detail)


@dataclass
class SuiteReport:
    results: List[CheckResult]
    validated: Optional[DataFrame]
    violations: Optional[DataFrame]

    @property
    def passed(self) -> bool:
        return all(r.passed for r in self.results)

    def to_df(self, spark) -> DataFrame:
        return spark.createDataFrame(
            [r.as_tuple() for r in self.results],
            "check string, scope string, pass boolean, metric double, detail string",
        )


class CheckSuite:
    """Builder: register checks, compile once, run against any DataFrame."""

    def __init__(self, schema: Optional[Any] = None, refs: Optional[Dict] = None,
                 id_cols: Sequence[str] = ("url",)):
        self._engine = ValidationEngine(schema, refs=refs) if schema else None
        self._id_cols = list(id_cols)
        # slots in registration order: ("agg", build_aggs(df)->[Column],
        # finish(row)->[CheckResult]) fold into ONE aggregation pass;
        # ("job", fn, None) are join/shuffle-shaped checks that stay
        # separate Spark jobs. At 100 TB this is the difference between
        # one scan for schema+null_rate+bounds and one scan PER check.
        self._slots: List[tuple] = []
        self._max_invalid_rate = 0.0

    # ------------------------------------------------------------ builders

    def with_max_invalid_rate(self, rate: float) -> "CheckSuite":
        """Row-level verdict threshold: suite passes if the invalid-row
        fraction is <= rate (default 0: every row must validate)."""
        self._max_invalid_rate = rate
        return self

    def with_null_rate(self, col: str, max_rate: float) -> "CheckSuite":
        tag = f"_c{len(self._slots)}"

        def build(df: DataFrame):
            return [F.sum(F.col(col).isNull().cast("long")).alias(f"{tag}_null")]

        def finish(row) -> List[CheckResult]:
            n_null, n_rows = row[f"{tag}_null"] or 0, row["n_rows"]
            rate = (n_null / n_rows) if n_rows else 0.0
            return [CheckResult(
                f"null_rate({col})", "column", rate <= max_rate,
                rate, f"{n_null}/{n_rows} null, max {max_rate}",
            )]

        self._slots.append(("agg", build, finish))
        return self

    def with_bounds(self, col: str, minimum=None, maximum=None) -> "CheckSuite":
        tag = f"_c{len(self._slots)}"

        def build(df: DataFrame):
            # comparisons happen Spark-side so bound literals coerce to the
            # column type (e.g. string date vs timestamp column)
            c = F.col(col)
            viol = F.lit(False)
            if minimum is not None:
                viol = viol | (c < F.lit(minimum).cast(df.schema[col].dataType))
            if maximum is not None:
                viol = viol | (c > F.lit(maximum).cast(df.schema[col].dataType))
            return [
                F.sum(viol.cast("long")).alias(f"{tag}_viol"),
                F.min(col).cast("string").alias(f"{tag}_mn"),
                F.max(col).cast("string").alias(f"{tag}_mx"),
            ]

        def finish(row) -> List[CheckResult]:
            n = row[f"{tag}_viol"] or 0
            return [CheckResult(
                f"bounds({col})", "column", n == 0, float(n),
                f"{n} rows outside [{minimum}, {maximum}]; "
                f"observed [{row[f'{tag}_mn']}, {row[f'{tag}_mx']}]",
            )]

        self._slots.append(("agg", build, finish))
        return self

    def with_uniqueness(self, key_cols: Sequence[str]) -> "CheckSuite":
        key_cols = list(key_cols)

        def check(df: DataFrame) -> List[CheckResult]:
            s = tc.uniqueness_summary(df, key_cols).collect()[0]
            return [CheckResult(
                f"unique({','.join(key_cols)})", "table", bool(s["pass"]),
                float(s["n_duplicates"]),
                f"{s['n_duplicates']} duplicate rows over {s['n_keys']} keys",
            )]

        self._slots.append(("job", check, None))
        return self

    def with_referential(self, parent: DataFrame, fk, pk=None,
                         broadcast_parent: bool = True) -> "CheckSuite":
        def check(df: DataFrame) -> List[CheckResult]:
            s = tc.referential_summary(df, parent, fk, pk, broadcast_parent).collect()[0]
            return [CheckResult(
                f"referential({fk})", "table", bool(s["pass"]),
                float(s["n_orphans"]), f"{s['n_orphans']} orphan rows",
            )]

        self._slots.append(("job", check, None))
        return self

    def with_categorical_drift(self, col: str, baseline: DataFrame,
                               max_chi_square: float) -> "CheckSuite":
        base_hist = baseline  # pre-aggregated histogram (bucket, n)

        def check(df: DataFrame) -> List[CheckResult]:
            stat = tc.chi_square_stat(tc.group_histogram(df, col), base_hist).collect()[0]
            return [CheckResult(
                f"chi_square_drift({col})", "distribution",
                stat["chi_square"] <= max_chi_square, stat["chi_square"],
                f"dof={stat['dof']}, max {max_chi_square}",
            )]

        self._slots.append(("job", check, None))
        return self

    # ----------------------------------------------------------------- run

    def run(self, df: DataFrame) -> SuiteReport:
        results: List[CheckResult] = []
        validated = violations = None
        if self._engine is not None:
            # materialized once by an eager, lineage-truncating local
            # checkpoint: the schema aggregate, the table checks and the
            # report's violations all read it, none re-runs validation
            validated = self._engine.apply(df).localCheckpoint()
        target = validated if validated is not None else df

        # ONE aggregation pass for the schema verdict + every algebraic
        # column-scope check (null rates, bounds): a single scan with
        # map-side partial aggregation, however many checks registered
        agg_slots = [s for s in self._slots if s[0] == "agg"]
        row = None
        if self._engine is not None or agg_slots:
            aggs = (verdict_rollup() if self._engine is not None
                    else [F.count(F.lit(1)).alias("n_rows")])
            for _kind, build, _finish in agg_slots:
                aggs.extend(build(target))
            row = target.agg(*aggs).collect()[0]

        if self._engine is not None:
            n, n_invalid = row["n_rows"], row["n_invalid"]
            rate = (n_invalid / n) if n else 0.0
            results.append(CheckResult(
                "schema", "row", rate <= self._max_invalid_rate, rate,
                f"{n_invalid}/{n} invalid rows, "
                f"max rate {self._max_invalid_rate}",
            ))
            violations = ValidationEngine.violations(validated, self._id_cols)

        # join/shuffle-shaped checks run as their own jobs, in
        # registration order interleaved with agg finishers
        for kind, payload, finish in self._slots:
            if kind == "agg":
                results.extend(finish(row))
            else:
                results.extend(payload(target))
        return SuiteReport(results, validated, violations)
