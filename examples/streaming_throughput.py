"""Streaming-path throughput bench (VERDICT r4 item 7).

Measures, on a real multi-segment parquet source:

- **drain rate**: rows/s through ``Trigger.AvailableNow`` micro-batching
  for (a) the ingest shape (streaming resample: watermark + tumbling
  window -> parquet sink) and (b) the quality-monitor shape
  (``streaming_bin_counts``: per-batch count deltas -> batch_id-
  partitioned state table with dynamic partition overwrite).
- **state read cost**: ``read_bin_counts`` (sum deltas per bin) against
  a state table with MANY batch partitions — the table a long-lived
  monitor accumulates — proving the read side scales past toy batch
  counts (state rows = n_bins x #batches, independent of data volume).

Usage: python examples/streaming_throughput.py [events_parquet] [n_segments]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1/events.parquet"
N_SEG = int(sys.argv[2]) if len(sys.argv) > 2 else 64
WORK = "/tmp/stream_bench"


def main() -> None:
    from pyspark.sql import functions as F

    from v3_polars_spark.session import get_spark
    from v3_polars_spark.streaming import run_available_now, streaming_resample
    from v3_polars_spark.streaming.quality_stream import (
        read_bin_counts,
        streaming_bin_counts,
    )

    spark = get_spark(app_name="streaming-throughput")
    shutil.rmtree(WORK, ignore_errors=True)
    src_dir = os.path.join(WORK, "src")

    batch = spark.read.parquet(SRC)
    # DuckDB-replicated fixtures carry TIMESTAMP_NTZ; watermarks require
    # TIMESTAMP (session TZ is UTC, so the instant is unchanged)
    batch = batch.withColumn("ts", F.col("ts").cast("timestamp"))
    n_rows = batch.count()
    batch.repartition(N_SEG).write.parquet(src_dir)
    schema = batch.schema

    out: dict = {"metric": "streaming_throughput", "rows": n_rows, "segments": N_SEG}

    # (a) ingest shape: resample under watermark, 8 segments per trigger
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max(N_SEG // 8, 1)))
        .parquet(src_dir)
    )
    agg = streaming_resample(
        stream, "ts", "6h",
        [F.count("*").alias("n"), F.max("value").alias("max_value")],
        watermark="1 hour",
    )
    t0 = time.perf_counter()
    run_available_now(
        agg,
        os.path.join(WORK, "sink_resample"),
        os.path.join(WORK, "ck_resample"),
        timeout_sec=3600,
    )
    dt = time.perf_counter() - t0
    out["resample_drain_sec"] = round(dt, 3)
    out["resample_rows_per_s"] = round(n_rows / dt)

    # (b) quality-monitor shape: bin-count deltas to partitioned state
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max(N_SEG // 8, 1)))
        .parquet(src_dir)
    )
    state_path = os.path.join(WORK, "state")
    t0 = time.perf_counter()
    streaming_bin_counts(
        stream2, "value", lo=0.0, hi=1000.0, n_bins=32,
        state_path=state_path,
        checkpoint_path=os.path.join(WORK, "ck_state"),
    )
    dt = time.perf_counter() - t0
    out["state_drain_sec"] = round(dt, 3)
    out["state_rows_per_s"] = round(n_rows / dt)
    n_batches = len(
        [d for d in os.listdir(state_path) if d.startswith("batch_id=")]
    )
    out["state_batches"] = n_batches

    # state-read cost at a long-lived monitor's batch count: append
    # synthetic delta partitions up to 512 batches, then time the rollup
    target_batches = max(512, n_batches)
    one = spark.read.parquet(state_path).drop("batch_id").limit(32)
    n_extra = target_batches - n_batches
    if n_extra > 0:
        grid = spark.range(n_extra).select(
            (F.col("id") + n_batches).alias("batch_id")
        )
        (
            one.crossJoin(grid)
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(state_path)
        )
    t0 = time.perf_counter()
    rolled = read_bin_counts(spark, state_path)
    n_bins = rolled.count()
    dt = time.perf_counter() - t0
    out["state_read_batches"] = target_batches
    out["state_read_sec"] = round(dt, 3)
    out["state_read_bins"] = n_bins
    print(json.dumps(out))
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
