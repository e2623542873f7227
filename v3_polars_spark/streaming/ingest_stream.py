"""Structured Streaming re-expression of the ingest/consume loop.

The reference has no streaming runtime — its incremental pull loop
(data_update.py:191-292) is hand-rolled micro-batching with
resume-from-max-landed-block, i.e. exactly what Structured Streaming's
file source + checkpoint + Trigger.AvailableNow provides natively
(SURVEY.md §2.8). This module provides:

- ``stream_table``: a streaming reader over a landed event-table directory
  (new segment files become micro-batches automatically);
- ``streaming_resample``: the A3 tumbling-window aggregation under a
  watermark — the identical F.window expression as ops.resample, which is
  the point: batch and streaming share the operator;
- ``run_available_now``: drain all currently-available segments into a
  sink table and stop (the batch-incremental equivalent).

The completeness watermark the reference computes manually across two
inputs (max_supported = min(max swaps bn, max mb bn), v3/state.py:103-106)
maps to per-stream event-time watermarks here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables as T
from ..ops.resample import duration_to_interval
from .state_store import drain_available_now


def stream_table(
    spark: SparkSession, data_path: str, table: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming read of an event-table parquet directory: every appended
    segment (ingest loop output) becomes part of the next micro-batch."""
    reader = spark.readStream.schema(T.SCHEMAS[table])
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(os.path.join(data_path, table))


def streaming_resample(
    df: DataFrame,
    ts_col: str,
    every: str,
    aggs: list,
    watermark: str = "1 hour",
) -> DataFrame:
    """A3 as a streaming query: tumbling window + late-data watermark."""
    interval = duration_to_interval(every)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), interval).alias("__w"))
        .agg(*aggs)
        .withColumn("bucket_ts", F.col("__w.start"))
        .drop("__w")
    )


def streaming_sessionize(
    df: DataFrame,
    ts_col: str,
    gap: str,
    by: list[str] | None = None,
    aggs: list | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based session windows as a streaming query: the SAME
    ``F.session_window`` expression as the batch ``ops.sessionize``, under
    a late-data watermark (the engine merges late events into open
    per-key sessions in state; a session closes — and is emitted in
    append mode — once the watermark passes its end)."""
    from pyspark.sql import functions as F

    from ..ops.resample import duration_to_interval
    from ..ops.sessions import sessionize as _batch_sessionize

    # reuse the batch op's grouping verbatim on the watermarked stream
    return _batch_sessionize(
        df.withWatermark(ts_col, watermark),
        ts_col,
        duration_to_interval(gap),
        by=by,
        aggs=aggs,
    )


def run_available_now(
    stream_df: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    output_mode: str = "append",
    timeout_sec: int = 300,
) -> None:
    """Drain everything currently available (Trigger.AvailableNow) into a
    parquet sink, then stop. Checkpointed: re-running skips already-
    processed segments — the streaming twin of the ingest loop's
    resume-from-max-landed-block. A drain still running after
    ``timeout_sec`` is stopped and raises ``TimeoutError``."""
    drain_available_now(
        stream_df.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode(output_mode),
        timeout_sec,
    )


def stream_dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop documents whose normalized-text md5
    fingerprint was already seen. Structured Streaming's dropDuplicates
    keeps the seen-set as managed state; with an event-time watermark the
    state is bounded (fingerprints older than the watermark age out — the
    right contract for continuous ingest at 100 TB; omit ts_col for exact
    global dedup with unbounded state)."""
    from ..datapipe.text import fingerprint_md5

    out = fingerprint_md5(df, text_col)
    if ts_col is not None:
        # dropDuplicatesWithinWatermark dedups on fp ALONE with state aged
        # by the watermark — dropDuplicates([fp, ts]) would only drop rows
        # whose event time also matches exactly
        return (
            out.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["fp"])
            .drop("fp")
        )
    return out.dropDuplicates(["fp"]).drop("fp")
