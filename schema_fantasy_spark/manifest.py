"""Checkpointed per-partition lineage + metrics manifest (north rule:
"resumable from a checkpointed per-partition lineage + metrics manifest").

Semantics inherited from the reference linker's acquisition pattern —
chained, deduped, resumable: already-cached URLs are skipped on re-link
(reference src/linker.js:96-103). Here: already-completed partitions are
skipped on re-run; the manifest entry is written AFTER the partition's
outputs are durably committed, so a crash between partitions loses nothing
and a crash mid-partition re-runs exactly that partition (outputs are
idempotent per-partition overwrites).

Layout: one JSON file per completed partition under ``manifest_dir``
(atomic temp+rename). A file-per-partition manifest scales to O(10^4)
partitions (a year of days x host buckets). The files are written with
``os`` and ``tempfile`` on the local file system of the Spark
application's main process: a URI such as ``s3://bucket/manifest`` is
read as a relative local path, not as the object store (ROADMAP item 1,
Defect B).
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional
from urllib.parse import quote

from pyspark.sql import DataFrame

from schema_fantasy_spark.columns import column
from schema_fantasy_spark.engine import ValidationEngine, verdict_rollup


# the key of the NULL partition: the directory name Spark's partitionBy
# gives NULL, so ``part=`` reads back as NULL under partition discovery
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _safe_key(key: str) -> str:
    """A file name for a partition key: percent-encoding is one-to-one,
    and Spark's partition discovery decodes it in a ``part=`` directory."""
    return quote(key, safe="")


class PartitionManifest:
    def __init__(self, manifest_dir: str):
        self.dir = manifest_dir
        os.makedirs(manifest_dir, exist_ok=True)

    def completed(self) -> Dict[str, dict]:
        out = {}
        for name in os.listdir(self.dir):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(self.dir, name)) as f:
                entry = json.load(f)
            out[entry["partition"]] = entry
        return out

    def mark(self, partition: str, metrics: dict) -> None:
        """Atomically record a completed partition (temp file + rename)."""
        entry = {"partition": partition, "completed_at": time.time(), **metrics}
        path = os.path.join(self.dir, f"{_safe_key(partition)}.json")
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(entry, f)
        os.replace(tmp, path)

    def summary(self) -> dict:
        done = self.completed()
        return {
            "n_partitions": len(done),
            "n_rows": sum(e.get("n_rows", 0) for e in done.values()),
            "n_invalid": sum(e.get("n_invalid", 0) for e in done.values()),
            "n_errors": sum(e.get("n_errors", 0) for e in done.values()),
            "all_pass": all(e.get("pass", False) for e in done.values()),
        }


@dataclass
class RunResult:
    processed: List[str]
    skipped: List[str]
    summary: dict


class ResumableValidationRun:
    """Validate a partitioned table partition-by-partition with resume.

    Each partition is one bounded Spark job: filter (partition-pruned at
    the source for a partition-column filter), validate, write violation
    rows (idempotent per-partition overwrite), record verdict metrics in
    the manifest. On restart, completed partitions are anti-joined away
    before any work is scheduled.
    """

    def __init__(
        self,
        engine: ValidationEngine,
        manifest_dir: str,
        partition_col: str,
        violations_dir: Optional[str] = None,
        id_cols: tuple = ("url",),
    ):
        self.engine = engine
        self.manifest = PartitionManifest(manifest_dir)
        self.partition_col = partition_col
        self.violations_dir = violations_dir
        self.id_cols = id_cols

    def partitions(self, df: DataFrame) -> List[str]:
        rows = (
            df.select(column(self.partition_col).cast("string").alias("p"))
            .distinct()
            .orderBy("p")
            .collect()
        )
        return [NULL_PARTITION if r["p"] is None else r["p"] for r in rows]

    def run(
        self,
        df: DataFrame,
        fail_after: Optional[int] = None,
        on_partition: Optional[Callable[[str], None]] = None,
    ) -> RunResult:
        """``fail_after``: test hook — raise after N partitions complete
        (simulates a mid-run crash for the resume test)."""
        done = self.manifest.completed()
        all_parts = self.partitions(df)  # one listing job, not one per use
        todo = [p for p in all_parts if p not in done]
        skipped = [p for p in all_parts if p in done]
        processed: List[str] = []
        for i, part in enumerate(todo):
            if fail_after is not None and i >= fail_after:
                raise RuntimeError(f"injected failure after {fail_after} partitions")
            t0 = time.time()
            value = None if part == NULL_PARTITION else part
            pdf = df.filter(column(self.partition_col).cast("string").eqNullSafe(value))
            validated = self.engine.apply(pdf)
            if self.violations_dir:
                # ONE pass per partition: metrics ride the violations write
                viol, obs = ValidationEngine.observed_violations(validated, self.id_cols)
                viol.write.mode("overwrite").parquet(
                    os.path.join(self.violations_dir, f"part={_safe_key(part)}")
                )
                agg = obs.get
            else:
                agg = validated.agg(*verdict_rollup()).collect()[0].asDict()
            metrics = {
                "n_rows": agg["n_rows"],
                "n_valid": agg["n_rows"] - agg["n_invalid"],
                "n_invalid": agg["n_invalid"],
                "n_errors": agg["n_errors"],
                "pass": agg["n_invalid"] == 0,
                "wall_sec": round(time.time() - t0, 3),
            }
            self.manifest.mark(part, metrics)
            processed.append(part)
            if on_partition:
                on_partition(part)
        return RunResult(processed, skipped, self.manifest.summary())
