"""The benchmark workloads.

Each workload materializes its seeded inputs in ``setup`` (the untimed
part), then repeats ``op`` in a closed loop: one op starts only after the
previous one returned. Every op checks its own output against the
generator's formulas and reports how many documents it validated, the
latencies of its passes, and its failures. ``gate`` runs once after the
timed loop and checks the written outputs in depth.

Spans are opened here, around each call into a layer of
``schema_fantasy_spark``; a Spark action is attributed to the layer whose
public function built the plan it executes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field
from typing import Dict, List

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from schema_fantasy_spark import table_checks as tc
from schema_fantasy_spark.compiler.plan import compile_schema
from schema_fantasy_spark.engine import ValidationEngine
from schema_fantasy_spark.errors import errs_to_rows
from schema_fantasy_spark.manifest import ResumableValidationRun
from schema_fantasy_spark.sources.pages import MAX_WARC_TS, PAGES_SCHEMA
from schema_fantasy_spark.suite import CheckSuite

from perfbench import inputs
from perfbench.trace import Tracer


@dataclass
class OpResult:
    """What one closed-loop op did: documents validated, pass latencies
    (one per validation pass the op ran), operations attempted/failed."""

    docs: int = 0
    pass_s: List[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; report a mismatch on stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def parquet_copy(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` to ``path`` and return a DataFrame that reads it back."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def plan_nodes(df: DataFrame) -> int:
    """Node count of the optimized logical plan (one tree line per node)."""
    return len(df._jdf.queryExecution().optimizedPlan().treeString().splitlines())


class Workload:
    name = ""
    #: input size; fixed per workload so runs on every commit compare
    size = 0
    #: untimed ops run for at least this long after set-up: the first
    #: passes pay for JIT compilation (and for starting Python workers);
    #: after a 5 s warm-up, pages_scan passes still fell from 2.1-2.3 s to
    #: 1.5-1.6 s during the timed loop
    warmup_s = 10.0

    def __init__(self, spark: SparkSession, seed: int, work_dir: str, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self.tr = tracer
        self.facts: Dict[str, float] = {}  # per-layer numbers that are not spans

    def materialize(self, df: DataFrame, name: str) -> DataFrame:
        path = os.path.join(self.work, name)
        out = parquet_copy(self.spark, df, path)
        self.facts["inputs.bytes"] = dir_bytes(path)
        return out

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> OpResult:
        raise NotImplementedError

    def gate(self) -> OpResult:
        raise NotImplementedError


class PagesScan(Workload):
    """Columnar validation of the typed pages table: one large scan per
    pass, its violations written to parquet and its verdicts per day."""

    name = "pages_scan"
    size = 200_000
    n_days = 30
    snapshot_size = 30_000  # rows of the snapshot the gate's SnapshotCycle checks

    def setup(self) -> None:
        with self.tr.span("inputs.generate"):
            self.df = self.materialize(
                inputs.pages(self.spark, self.size, self.seed, self.n_days), "pages")
        with self.tr.span("columnar.compile"):
            self.engine = ValidationEngine(PAGES_SCHEMA)
        self.exp = inputs.expected_pages(self.size)
        self.viol_dir = os.path.join(self.work, "violations")

    def op(self, i: int) -> OpResult:
        res, tr, exp = OpResult(), self.tr, self.exp
        t0 = time.perf_counter()
        with tr.span("columnar.bind"):
            validated = self.engine.apply(self.df).select("id", "warc_ts", "errors", "verdict")
        if "columnar.plan_nodes" not in self.facts:
            self.facts["columnar.plan_nodes"] = plan_nodes(validated)
        try:
            with tr.span("columnar.exec"):
                validated = validated.persist(StorageLevel.MEMORY_AND_DISK)
                n = validated.count()
            with tr.span("engine.violations"):
                ValidationEngine.violations(validated, ["id"]).write.mode(
                    "overwrite").parquet(self.viol_dir)
            with tr.span("engine.partition_verdicts"):
                verdicts = ValidationEngine.partition_verdicts(
                    validated.withColumn("day", F.to_date("warc_ts")), ["day"]).collect()
        finally:
            validated.unpersist(blocking=True)
        res.pass_s.append(time.perf_counter() - t0)
        res.docs = n
        got = {k: sum(r[k] for r in verdicts) for k in ("n_rows", "n_invalid", "n_errors")}
        want = {k: exp[k] for k in got}
        res.check(got == want and len(verdicts) == self.n_days + 1,
                  f"pass {i}: verdict totals {got} over {len(verdicts)} days, want {want}")
        return res

    def gate(self) -> OpResult:
        res, tr, exp = OpResult(), self.tr, self.exp
        rows = self.spark.read.parquet(self.viol_dir).select("id", "keyword", "path").collect()
        got: Dict[tuple, List[int]] = {}
        for r in rows:
            got.setdefault((r["keyword"], "/".join(r["path"])), []).append(r["id"])
        got = {k: sorted(v) for k, v in got.items()}
        res.check(got == exp["by_kind"], "violation ids per keyword != expected_violation_ids")
        with tr.span("table_checks.uniqueness"):
            u = tc.uniqueness_summary(self.df, ["url"]).collect()[0]
        res.check(u["n_duplicates"] == exp["n_dup_url"], f"duplicate urls {u['n_duplicates']}")
        with tr.span("table_checks.null_rates"):
            nr = {r["col_name"]: r["n_null"] for r in tc.null_rates(self.df, ["lang"]).collect()}
        res.check(nr["lang"] == exp["n_null_lang"], f"null langs {nr['lang']}")
        SnapshotCycle(self.spark, self.seed, os.path.join(self.work, "snapshot"), tr,
                      self.snapshot_size).run(res, self.facts)
        return res


def _error_tuples(errors) -> list:
    return [(tuple(e["path"]), e["keyword"], e["message"], e["expected"], e["actual"], e["depth"])
            for e in errors]


class JsonDocs(Workload):
    """Dynamic-mode validation of nested JSON documents through the
    Arrow-batched Python kernel, one third of them invalid."""

    name = "json_docs"
    size = 48_000
    warmup_s = 12.0  # after a 6 s warm-up, passes still fell by up to 17% in the timed loop
    sample = 600  # gate: ids below this are checked across all three modes

    def setup(self) -> None:
        with self.tr.span("inputs.generate"):
            self.df = self.materialize(inputs.json_docs(self.spark, self.size, self.seed), "docs")
        with self.tr.span("compiler.compile_schema"):
            self.oracle = compile_schema(inputs.DOCS_SCHEMA)
        self.engine = ValidationEngine(inputs.DOCS_SCHEMA, mode="dynamic")
        self.exp = inputs.expected_docs(self.size)
        self.viol_dir = os.path.join(self.work, "violations")

    def op(self, i: int) -> OpResult:
        res, tr, exp = OpResult(), self.tr, self.exp
        t0 = time.perf_counter()
        with tr.span("dynamic.udf_build"):
            validated = self.engine.apply(self.df, doc_col="doc").select("id", "errors", "verdict")
        try:
            with tr.span("dynamic.exec"):
                validated = validated.persist(StorageLevel.MEMORY_AND_DISK)
                n = validated.count()
            with tr.span("engine.violations"):
                ValidationEngine.violations(validated, ["id"]).write.mode(
                    "overwrite").parquet(self.viol_dir)
            with tr.span("engine.error_breakdown"):
                breakdown = ValidationEngine.error_breakdown(validated).collect()
        finally:
            validated.unpersist(blocking=True)
        res.pass_s.append(time.perf_counter() - t0)
        res.docs = n
        got: Dict[str, int] = {}
        for r in breakdown:
            got[r["keyword"]] = got.get(r["keyword"], 0) + r["n_violations"]
        res.check(n == exp["n_rows"] and got == exp["keywords"],
                  f"pass {i}: {n} docs, error rows per keyword {got}")
        return res

    def gate(self) -> OpResult:
        res, tr, exp = OpResult(), self.tr, self.exp
        # the violations written by the last pass: one row per error
        kw = {r["keyword"]: r["n"] for r in self.spark.read.parquet(self.viol_dir)
              .groupBy("keyword").agg(F.count(F.lit(1)).alias("n")).collect()}
        res.check(kw == exp["keywords"], f"violation rows per keyword {kw}")
        # the kernel agrees with the driver-side oracle document by document
        # on a fixed sample; the traced run adds the variant mode (its plan
        # takes tens of seconds to build, so untraced runs skip it)
        sample = self.df.filter(F.col("id") < self.sample)
        docs = {r["id"]: r["doc"] for r in sample.collect()}
        dyn = {r["id"]: _error_tuples(r["errors"]) for r in
               self.engine.apply(sample, doc_col="doc").select("id", "errors").collect()}
        ora = {i: _error_tuples(errs_to_rows(self.oracle.validate(json.loads(d))))
               for i, d in docs.items()}
        bad = [i for i in sorted(docs) if dyn.get(i) != ora[i]]
        res.check(len(docs) == self.sample and not bad,
                  f"{len(bad)} sample docs differ from the oracle, first {bad[:5]}")
        if tr.enabled:
            with tr.span("variant.compile"):
                variant = ValidationEngine(inputs.DOCS_SCHEMA, mode="variant")
            with tr.span("variant.exec"):
                var = {r["id"]: _error_tuples(r["errors"]) for r in
                       variant.apply(sample, doc_col="doc").select("id", "errors").collect()}
            bad = [i for i in sorted(docs) if var.get(i) != ora[i]]
            res.check(not bad, f"{len(bad)} sample docs differ in variant mode, first {bad[:5]}")
        return res


class _BoundEngine:
    """Engine proxy handed to ResumableValidationRun so that the per-
    partition bind (building the errors column) gets its own span."""

    def __init__(self, engine: ValidationEngine, tracer: Tracer):
        self._engine = engine
        self._tr = tracer

    def apply(self, df: DataFrame) -> DataFrame:
        with self._tr.span("columnar.bind"):
            return self._engine.apply(df)


class SnapshotCycle:
    """The partitioned check that ends a ``pages_scan`` run: a day-
    partitioned snapshot validated by ``ResumableValidationRun`` with its
    manifest and violations on disk, crashed after ``fail_after``
    partitions and resumed, then a ``CheckSuite`` against the previous
    snapshot. It runs once, after the timed loop: its many small filtered
    jobs are latency-bound, and as a timed workload their run-to-run
    spread (0.25-0.31 of the median on 4 vCPUs) exceeded any usable bound.
    """

    n_days = 4
    fail_after = 2
    max_chi_square = 10.0

    def __init__(self, spark: SparkSession, seed: int, work_dir: str, tracer: Tracer, size: int):
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self.tr = tracer
        self.size = size

    def run(self, res: OpResult, facts: Dict[str, float]) -> None:
        """Set up, run one crash-and-resume cycle and the suite, and add
        every check to ``res``."""
        tr, exp = self.tr, inputs.expected_snapshot(self.size, self.n_days)
        shutil.rmtree(self.work, ignore_errors=True)  # a manifest left behind would skip partitions
        base, nxt = inputs.snapshot_pair(self.spark, self.size, self.seed, self.n_days)
        base = parquet_copy(self.spark, base, os.path.join(self.work, "base"))
        nxt = parquet_copy(self.spark, nxt, os.path.join(self.work, "next")).withColumn(
            "day", F.to_date("warc_ts"))
        with tr.span("suite.compile"):
            suite = (
                CheckSuite(PAGES_SCHEMA, id_cols=("id",))
                .with_max_invalid_rate(0.01)
                .with_null_rate("lang", 0.02)
                .with_bounds("warc_ts", maximum=MAX_WARC_TS)
                .with_uniqueness(["url"])
                .with_referential(base, "url")
                .with_categorical_drift("lang", tc.group_histogram(base, "lang"),
                                        self.max_chi_square)
            )
        engine = ValidationEngine(PAGES_SCHEMA)
        if tr.enabled:
            engine = _BoundEngine(engine, tr)
        viol_dir = os.path.join(self.work, "violations")
        run = ResumableValidationRun(engine, os.path.join(self.work, "manifest"), "day",
                                     violations_dir=viol_dir, id_cols=("id",))
        with tr.span("manifest.partitions"):
            all_parts = run.partitions(nxt)
        spans = {"open": None}

        def on_partition(_part: str) -> None:
            tr.end(spans["open"])
            spans["open"] = tr.begin("manifest.partition")

        def resumable(**kw):
            with tr.span("manifest.run"):
                spans["open"] = tr.begin("manifest.partition")
                try:
                    return run.run(nxt, on_partition=on_partition, **kw)
                finally:
                    tr.discard(spans["open"])  # the tail after the last partition

        try:
            resumable(fail_after=self.fail_after)
            res.check(False, "the injected failure did not raise")
        except RuntimeError:
            pass
        with tr.span("manifest.completed"):
            done = set(run.manifest.completed())
        res.check(len(done) == self.fail_after, f"{len(done)} partitions done before the crash")
        result = resumable()
        res.check(
            sorted(result.processed + result.skipped) == sorted(all_parts)
            and set(result.skipped) == done
            and len(all_parts) == exp["n_partitions"],
            f"processed {len(result.processed)} + skipped {len(result.skipped)}"
            f" of {len(all_parts)} partitions")
        got = {k: result.summary[k] for k in ("n_partitions", "n_rows", "n_invalid", "n_errors")}
        want = {k: exp[k] for k in got}
        res.check(got == want, f"manifest summary {got}, want {want}")
        res.attempted += self.fail_after + len(result.processed)  # the partition jobs
        facts["manifest.rows_validated"] = exp["n_rows"]
        n_viol = self.spark.read.parquet(os.path.join(viol_dir, "part=*")).count()
        res.check(n_viol == exp["n_errors"], f"partition violation rows {n_viol}")

        with tr.span("suite.run"):
            report = suite.run(nxt)
        flags = {r.check: r.passed for r in report.results}
        metrics = {r.check: r.metric for r in report.results}
        res.check(
            flags == exp["checks"]
            and metrics["unique(url)"] == exp["n_duplicates"]
            and metrics["referential(url)"] == exp["n_orphans"]
            and metrics["bounds(warc_ts)"] == exp["n_future_ts"]
            and metrics["schema"] == exp["n_invalid"] / exp["n_rows"],
            f"suite results {flags} {metrics}")
        with tr.span("table_checks.referential"):
            o = tc.referential_summary(nxt, base, "url", broadcast_parent=True).collect()[0]
        res.check(o["n_orphans"] == exp["n_orphans"], f"orphans {o['n_orphans']}")
        with tr.span("table_checks.drift"):
            chi = tc.chi_square_stat(tc.group_histogram(nxt, "lang"),
                                     tc.group_histogram(base, "lang")).collect()[0]
        res.check(chi["chi_square"] > self.max_chi_square, f"chi-square {chi['chi_square']}")


WORKLOADS = {w.name: w for w in (PagesScan, JsonDocs)}

