"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pages_scan --seed 1 --seconds 8 --trace 0

Sets up the workload several times (session start, seeded input
generation and materialization, engine compile) and keeps the median,
warms up with untimed ops for the workload's ``warmup_s``, then runs ops
in a closed loop for ``--seconds``, checks every op's output, and runs
the correctness gate.
Progress and a metric table go to stderr; the last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` records spans
around every layer call on every other op and reports the per-layer
metrics, including the tracing overhead (traced minus untraced pass
median). Spans are written to ``.perfbench_traces/`` when the run ends.

Works from any directory and on any core count: the repository root is
found from this file, put on the Python workers' ``PYTHONPATH``, and
Spark runs on ``local[N-1]`` with N the CPUs this process may use. All
files the run writes stay under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

SETUP_REPS = 3
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "pass_s_p50": "s",
}

#: spans whose mean self time per call is reported as ``<name>_s``
SPAN_METRICS = (
    "session.start", "inputs.generate", "compiler.compile_schema",
    "columnar.compile", "columnar.bind", "columnar.exec",
    "dynamic.udf_build", "dynamic.exec", "variant.compile", "variant.exec",
    "engine.violations", "engine.partition_verdicts", "engine.error_breakdown",
    "manifest.partitions", "manifest.completed", "manifest.run", "manifest.partition",
    "table_checks.uniqueness", "table_checks.referential", "table_checks.drift",
    "table_checks.null_rates", "suite.compile", "suite.run",
)
#: layers whose Spark status-store deltas are reported per traced op (or
#: per gate, for layers the gate alone runs)
STATUS_LAYERS = ("columnar", "dynamic", "engine", "manifest", "suite")
STATUS_METRICS = {"jobs": "count", "tasks": "count", "input_records": "count",
                  "shuffle_write_bytes": "B", "cpu_s": "s", "gc_s": "s"}

PER_LAYER = {
    "peak_rss_mb": "MB",
    **{f"{n}_s": "s" for n in SPAN_METRICS},
    "inputs.bytes": "B",
    "columnar.plan_nodes": "count",
    "engine.violation_rows": "count",
    "engine.violation_bytes": "B",
    "manifest.rows_read_per_row_validated": "ratio",
    **{f"{layer}.{m}": u for layer in STATUS_LAYERS for m, u in STATUS_METRICS.items()},
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.spans": "count",
    "ops.failed_frac": "ratio",
}

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def task_slots() -> int:
    """Spark task slots: the CPUs this process may use, less one for the
    driver's Python, py4j and the JVM's GC and JIT threads. On 4 vCPUs,
    local[4] left those threads no core and the partition-job median spread
    by 25% between runs; local[3] spread by 4%."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def prepare_environment(run_dir: Path) -> None:
    """Keep temporary files under ``run_dir``. Must run before the JVMs
    (the launcher and the driver) start: they inherit this environment."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # a JVM writes /tmp/hsperfdata_<user>/<pid> unless told not to
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        x for x in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if x)


def spark_conf(run_dir: Path, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job of the run in the status store for the span deltas
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it; the Python workers are its children."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=120)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the JVM (VmHWM)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def layer_of(span_name: str) -> str:
    return span_name.rsplit(".", 1)[0]


def per_layer_metrics(tracer, facts, traced_pass_s, untraced_pass_s) -> dict:
    from perfbench.trace import self_times

    selfs = self_times(tracer.spans)
    out = {}
    for name in SPAN_METRICS:
        vals = [selfs[s.span_id] for s in tracer.spans if s.name == name]
        out[f"{name}_s"] = statistics.fmean(vals) if vals else 0.0
    # status deltas: summed over the layer's spans, divided by the number
    # of traced ops (or gates) in which the layer ran Spark jobs
    timed = [s for s in tracer.spans if not s.trace_id.startswith("setup")]
    for layer in STATUS_LAYERS:
        spans = [s for s in timed if layer_of(s.name) == layer]
        units = len({s.trace_id for s in spans if s.status.get("jobs")}) or 1
        for m in STATUS_METRICS:
            out[f"{layer}.{m}"] = sum(s.status.get(m, 0.0) for s in spans) / units
    op_spans = [s for s in timed if s.trace_id.startswith("op-")]
    n_ops = len({s.trace_id for s in op_spans}) or 1
    out["engine.violation_rows"] = sum(s.status.get("output_records", 0.0) for s in op_spans) / n_ops
    out["engine.violation_bytes"] = sum(s.status.get("output_bytes", 0.0) for s in op_spans) / n_ops
    validated = facts.get("manifest.rows_validated", 0)
    out["manifest.rows_read_per_row_validated"] = (
        out["manifest.input_records"] / validated if validated else 0.0)
    out["inputs.bytes"] = facts.get("inputs.bytes", 0)
    out["columnar.plan_nodes"] = facts.get("columnar.plan_nodes", 0)
    base = statistics.median(untraced_pass_s)
    out["trace.overhead_s"] = statistics.median(traced_pass_s) - base
    out["trace.overhead_frac"] = out["trace.overhead_s"] / base
    out["trace.spans"] = len(tracer.spans)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    trace = bool(args.trace)
    if not (ROOT / "schema_fantasy_spark").is_dir():
        print(f"perfbench: no schema_fantasy_spark package under {ROOT}", file=sys.stderr)
        return 2
    # the package must import here and in the Python workers Spark starts
    sys.path.insert(0, str(ROOT))
    paths = [str(ROOT)] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    from schema_fantasy_spark.session import get_spark
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, OpResult

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    cores = task_slots()
    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare_environment(run_dir)
    tracer = Tracer(enabled=trace)
    spark = wl = None
    try:
        # ---- set-up, repeated; the median is the reported set-up time
        setup_s = []
        for rep in range(SETUP_REPS):
            tracer.sc = None
            if spark is not None:
                spark.stop()
            tracer.trace_id = f"setup-{rep}"
            t0 = time.perf_counter()
            with tracer.span("setup"):
                with tracer.span("session.start"):
                    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores,
                                      extra_conf=spark_conf(run_dir, trace))
                    spark.sparkContext.setLogLevel("ERROR")
                tracer.sc = spark.sparkContext if trace else None
                wl = WORKLOADS[args.workload](spark, args.seed, str(run_dir / "work"), tracer)
                wl.setup()
            setup_s.append(time.perf_counter() - t0)
            print(f"perfbench: setup {rep}: {setup_s[-1]:.3f} s", file=sys.stderr)

        total = OpResult()

        def run_op(i: int) -> OpResult:
            try:
                r = wl.op(i)
            except Exception:  # a failed op is counted, the loop goes on
                traceback.print_exc()
                r = OpResult(attempted=1, failed=1)
            total.attempted += r.attempted
            total.failed += r.failed
            return r

        # ---- warm-up: JIT, Python workers, file listings
        tracer.enabled = False
        t_warm = time.perf_counter()
        run_op(0)
        while time.perf_counter() - t_warm < wl.warmup_s:
            run_op(0)

        # ---- timed closed loop; in a traced run every other op is traced
        untraced_ops, traced_ops = [], []
        t_start = time.perf_counter()
        deadline = t_start + args.seconds
        i = 0
        while time.perf_counter() < deadline or (trace and not (traced_ops and untraced_ops)):
            i += 1
            tracer.enabled = trace and i % 2 == 1
            tracer.trace_id = f"op-{i}"
            r = run_op(i)
            (traced_ops if tracer.enabled else untraced_ops).append(r)
            print(f"perfbench: op {i}: {len(r.pass_s)} passes, median "
                  f"{statistics.median(r.pass_s) if r.pass_s else float('nan'):.3f} s",
                  file=sys.stderr)
        wall = time.perf_counter() - t_start

        # ---- correctness gate
        tracer.enabled = trace
        tracer.trace_id = "gate"
        try:
            g = wl.gate()
        except Exception:
            traceback.print_exc()
            g = OpResult(attempted=1, failed=1)
        total.attempted += g.attempted
        total.failed += g.failed

        ops = untraced_ops + traced_ops
        untraced_pass_s = [t for r in untraced_ops for t in r.pass_s]
        if trace:
            tracer.collect_status()
            metrics = per_layer_metrics(
                tracer, wl.facts, [t for r in traced_ops for t in r.pass_s], untraced_pass_s)
            metrics["ops.failed_frac"] = total.failed / total.attempted
            metrics["peak_rss_mb"] = peak_rss_mb(spark)
            units = PER_LAYER
            trace_dir = ROOT / ".perfbench_traces"
            trace_dir.mkdir(exist_ok=True)
            tracer.dump(str(trace_dir / f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": statistics.median(setup_s),
                "docs_per_s": sum(r.docs for r in ops) / wall,
                "pass_s_p50": statistics.median(untraced_pass_s),
            }
            units = END_TO_END
        print(f"perfbench: {args.workload} seed {args.seed}: {len(ops)} ops, "
              f"{len(untraced_pass_s)} untraced passes in {wall:.2f} s on local[{cores}]",
              file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    for name, value in metrics.items():
        print(f"  {name:<42} {value:>16.6g} {units[name]}", file=sys.stderr)
    result = {
        "correct": total.failed == 0,
        "attempted": total.attempted,
        "failed": total.failed,
        "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
