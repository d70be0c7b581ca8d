"""spark-submit entry point: validate a pages table, resumably.

    ./tools/make_pyfiles.sh   # builds dist/schema_fantasy_spark.zip
    /opt/spark/bin/spark-submit --master local[8] \
        --py-files dist/schema_fantasy_spark.zip \
        jobs/validate_job.py \
        --input /path/to/pages_parquet_or_iceberg_identifier \
        --schema-file schemas/pages.json \
        --manifest-dir /out/manifest --violations-dir /out/violations \
        --partition-col day

On a real cluster, swap --master for the cluster master and add the
Iceberg --packages/--conf lines from sources/iceberg.py. The job is
idempotent: rerunning after any failure resumes from the manifest.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or iceberg identifier")
    ap.add_argument("--schema-file", default=None,
                    help="JSON-Schema file, its relative $refs fetched beside it; "
                         "default: built-in pages schema")
    ap.add_argument("--manifest-dir", required=True)
    ap.add_argument("--violations-dir", default=None)
    ap.add_argument("--partition-col", default="day")
    ap.add_argument("--id-cols", default="url")
    ap.add_argument("--derive-day-from", default=None,
                    help="timestamp column to derive a 'day' partition column from")
    ap.add_argument("--host-verdicts-out", default=None,
                    help="also write per-host verdicts to this parquet path: "
                         "host, n_rows, n_valid, n_invalid, n_errors, pass")
    ap.add_argument("--snapshot-id", type=int, default=None,
                    help="iceberg time travel: validate this snapshot")
    ap.add_argument("--from-snapshot-id", type=int, default=None,
                    help="iceberg incremental: validate only the file delta "
                         "from this snapshot to --snapshot-id/current; give it a "
                         "fresh --manifest-dir (the manifest skips a partition "
                         "by name, whatever snapshot it came from)")
    ap.add_argument("--partition-filter", action="append", default=[],
                    metavar="NAME=V | NAME=LO..HI",
                    help="iceberg_lite partition pruning, repeatable "
                         "(ANDed): e.g. --partition-filter "
                         "warc_ts_day=20500..20503 --partition-filter "
                         "lang=en — pruned data files are never opened "
                         "(manifest-level planning, the north rule's "
                         "explicit-partition-pruning clause)")
    args = ap.parse_args()

    def _pf_value(v: str):
        if ".." in v:
            lo, hi = v.split("..", 1)
            return (int(lo) if lo.lstrip("-").isdigit() else lo,
                    int(hi) if hi.lstrip("-").isdigit() else hi)
        return int(v) if v.lstrip("-").isdigit() else v

    partition_filter = None
    if args.partition_filter:
        partition_filter = {}
        for spec in args.partition_filter:
            name, _, val = spec.partition("=")
            if not _ or not name:
                raise SystemExit(f"bad --partition-filter {spec!r}")
            partition_filter[name] = _pf_value(val)

    from pyspark.sql import SparkSession, functions as F

    from schema_fantasy_spark.compiler.http import load_schema
    from schema_fantasy_spark.engine import ValidationEngine
    from schema_fantasy_spark.manifest import ResumableValidationRun
    from schema_fantasy_spark.scale import host_of
    from schema_fantasy_spark.sources.iceberg import read_pages
    from schema_fantasy_spark.sources.pages import PAGES_SCHEMA

    # spark-submit provides master/conf; AQE + Arrow settings may also be
    # passed via --conf. getOrCreate attaches to the submitted session.
    # Only stop a session this job itself created (spark-submit); an
    # in-process caller (tests, notebooks) keeps its session.
    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("sfs-validate").getOrCreate()

    schema, refs = load_schema(args.schema_file) if args.schema_file else (PAGES_SCHEMA, {})

    df = read_pages(spark, args.input, snapshot_id=args.snapshot_id,
                    from_snapshot_id=args.from_snapshot_id,
                    partition_filter=partition_filter)
    if args.derive_day_from:
        df = df.withColumn(args.partition_col, F.to_date(F.col(args.derive_day_from)))

    engine = ValidationEngine(schema, refs=refs)
    run = ResumableValidationRun(
        engine,
        manifest_dir=args.manifest_dir,
        partition_col=args.partition_col,
        violations_dir=args.violations_dir,
        id_cols=tuple(args.id_cols.split(",")),
    )
    result = run.run(df)

    if args.host_verdicts_out:
        validated = engine.apply(df).withColumn("host", host_of(F.col("url")))
        ValidationEngine.partition_verdicts(validated, ["host"]).write.mode(
            "overwrite"
        ).parquet(args.host_verdicts_out)

    print(json.dumps({
        "processed": result.processed,
        "skipped": result.skipped,
        **result.summary,
    }))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
