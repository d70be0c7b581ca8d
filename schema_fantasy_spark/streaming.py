"""Structured Streaming validation.

The reference is purely batch (its only async is schema fetching,
reference src/linker.js:50-59); the ENGINE adds an incremental path:

* ``validate_stream`` — the columnar plan applies unchanged to a streaming
  DataFrame (stateless projection: same codegen'd expressions per
  micro-batch; zero extra state).
* ``windowed_verdicts`` — watermarked tumbling-window pass/fail counts for
  late-arriving crawl data.
* ``write_validated`` — foreachBatch sink: violations parquet + verdict
  metrics per micro-batch, composing with the batch manifest for
  exactly-once-per-partition bookkeeping via the streaming checkpoint.
"""

from __future__ import annotations

from typing import Any, Callable, Dict, Optional

from pyspark.sql import DataFrame, functions as F

from schema_fantasy_spark.engine import ValidationEngine


def validate_stream(
    stream_df: DataFrame,
    schema: Any,
    refs: Optional[Dict[str, Any]] = None,
) -> DataFrame:
    """Append errors + verdict columns to a streaming DataFrame (stateless;
    the plan compiles once on the driver, same as batch)."""
    return ValidationEngine(schema, refs=refs).apply(stream_df)


def windowed_verdicts(
    validated: DataFrame,
    ts_col: str = "warc_ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-event-time-window verdict counts with a watermark bounding
    state for late data (output mode: append after watermark passes)."""
    return (
        validated.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col("verdict")).cast("long")).alias("n_invalid"),
            F.sum(F.size("errors")).alias("n_errors"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_rows",
            "n_invalid",
            "n_errors",
            (F.col("n_invalid") == 0).alias("pass"),
        )
    )


def write_validated(
    validated: DataFrame,
    violations_path: str,
    checkpoint_path: str,
    id_cols: tuple = ("url",),
    on_batch: Optional[Callable[[int, dict], None]] = None,
    trigger_available_now: bool = True,
):
    """Start a foreachBatch query writing violation rows per micro-batch;
    the streaming checkpoint provides resume (processed files are never
    re-read). ``on_batch(batch_id, metrics)`` receives per-batch verdict
    metrics — the streaming analogue of the manifest entry.

    foreachBatch is at-least-once: a retried micro-batch re-runs handle()
    with the SAME batch_id, so each batch overwrites its own
    ``batch_id=N`` subdirectory — replays are idempotent and the overall
    output is effectively exactly-once per committed batch."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            viol = ValidationEngine.violations(batch_df, list(id_cols))
            viol.write.mode("overwrite").parquet(
                f"{violations_path}/batch_id={batch_id}"
            )
            if on_batch is not None:
                agg = batch_df.agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum((~F.col("verdict")).cast("long")).alias("n_invalid"),
                ).collect()[0]
                on_batch(batch_id, {"n_rows": agg["n_rows"], "n_invalid": agg["n_invalid"]})
        finally:
            batch_df.unpersist()

    writer = (
        validated.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_dedup_stream(
    stream_df: DataFrame,
    key_col: str = "url",
    timeout_hours: Optional[int] = None,
):
    """Cross-micro-batch exact deduplication with keyed state
    (``applyInPandasWithState``): the first row per key passes, every later
    occurrence — in this or any later micro-batch — is dropped. The
    streaming analogue of a batch distinct-by-content-digest.

    State per key is one boolean ("seen"), so state size is O(distinct
    keys); pass ``timeout_hours`` to expire state for keys not seen in that
    window (bounds state at 10^12-key scale; a re-crawled url after the
    timeout passes again — the batch uniqueness check still catches it
    downstream).

    Note: Spark's built-in ``dropDuplicates`` on a stream is equivalent for
    this exact case; this operator exists as the template for richer custom
    state (per-key verdict history, change detection) and is tested as such.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = stream_df.schema
    state_schema = "seen boolean"

    def dedup_fn(key, pdfs, state: "GroupState"):
        if state.hasTimedOut:
            state.remove()
            return
        already = state.exists
        if not already:
            first = None
            for pdf in pdfs:
                if len(pdf) and first is None:
                    first = pdf.iloc[[0]]
            state.update((True,))
            if timeout_hours is not None:
                state.setTimeoutDuration(timeout_hours * 3600 * 1000)
            if first is not None:
                yield first
        else:
            for _ in pdfs:  # drain
                pass
            if timeout_hours is not None:
                state.setTimeoutDuration(timeout_hours * 3600 * 1000)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_hours is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(
            dedup_fn, out_schema, state_schema, "update", timeout
        )
    )
