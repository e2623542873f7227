"""Streaming data-quality monitor: distribution state from a stream.

Continuous ingest wants continuous drift detection: "has today's crawl
shifted against the accepted baseline?" asked without ever re-reading
the raw corpus. The state needed is tiny and additive — equal-width bin
counts on the same fixed edges as ``ops.drift`` — so the streaming shape
is foreachBatch writing per-micro-batch COUNT DELTAS to a bounded
parquet state table partitioned by ``batch_id``, with dynamic partition
overwrite: Structured Streaming re-runs a failed batch with the SAME
batch_id, and overwriting exactly the ``batch_id=N`` partition makes
the replay idempotent (a plain append would land a second copy of the
batch and silently double-count every downstream sum). Readers sum
deltas per bin; ``ops.drift.psi_from_counts`` turns any two such states
(or a state vs a batch baseline) into the PSI decomposition.

At 100 TB the state table stays n_bins × #batches rows regardless of
data volume; compact it with ``tables.compact_segments`` semantics if
batch count ever matters. The raw stream is read once, ever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.drift import bin_counts
from .state_store import drain_available_now


def _write_batch_state(df: DataFrame, batch_id: int, state_path: str) -> None:
    """Land one micro-batch's state rows in the ``batch_id=N`` partition,
    overwriting ONLY that partition (dynamic mode) — calling this twice
    with the same batch_id (Structured Streaming's failure-replay
    contract) leaves exactly one copy.

    Layout guard: state written by the pre-partitioned (flat-append)
    version of this module kept root-level parquet files with batch_id
    as a DATA column; mixing the two layouts in one directory breaks
    partition discovery for every reader. Fail loudly with a migration
    hint instead of corrupting the table. The check goes through the
    Hadoop FileSystem API (fsutil) so it holds for hdfs:// and s3a://
    state paths too — os.listdir would silently no-op exactly where a
    corrupted mixed layout is hardest to notice."""
    from .. import fsutil

    if any(
        f.endswith(".parquet")
        for f in fsutil.list_file_names(df.sparkSession, state_path)
    ):
        raise ValueError(
            f"{state_path} holds flat-layout state from a previous version; "
            "migrate it first (read the old files and rewrite partitioned "
            "by batch_id) or point the stream at a fresh state_path"
        )
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(state_path)
    )


def streaming_bin_counts(
    stream_df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int,
    state_path: str,
    checkpoint_path: str,
    timeout_sec: int = 300,
) -> None:
    """Drain the stream (Trigger.AvailableNow), writing each
    micro-batch's ``(bin, n)`` count deltas to the ``batch_id=N``
    partition of ``state_path`` (dynamic overwrite: replay-idempotent).
    Re-running with the same checkpoint processes only new segments —
    the incremental-monitor twin of the ingest loop."""

    def _batch(df: DataFrame, batch_id: int) -> None:
        _write_batch_state(bin_counts(df, col, lo, hi, n_bins), batch_id, state_path)

    drain_available_now(
        stream_df.writeStream.foreachBatch(_batch).option(
            "checkpointLocation", checkpoint_path
        ),
        timeout_sec,
    )


def read_bin_counts(spark: SparkSession, state_path: str) -> DataFrame:
    """Collapse the delta log to current ``(bin, n)`` counts — the frame
    ``ops.drift.psi_from_counts`` consumes."""
    return (
        spark.read.parquet(state_path)
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
    )


def streaming_kll_state(
    stream_df: DataFrame,
    col: str,
    state_path: str,
    checkpoint_path: str,
    k: int = 200,
    timeout_sec: int = 300,
) -> None:
    """Quantile twin of :func:`streaming_bin_counts`: drain the stream
    (Trigger.AvailableNow), writing ONE mergeable KLL sketch row per
    micro-batch to the ``batch_id=N`` partition of ``state_path``
    (dynamic overwrite: replay-idempotent). KLL merge is
    associative, so any-grain quantiles come from the state table alone
    (``read_kll_quantiles``) — the raw stream is read once, ever, and
    the state grows one ~O(k log n)-byte row per batch."""
    from ..ops.sketches import kll_sketches

    def _batch(df: DataFrame, batch_id: int) -> None:
        _write_batch_state(kll_sketches(df, col, [], k=k), batch_id, state_path)

    drain_available_now(
        stream_df.writeStream.foreachBatch(_batch).option(
            "checkpointLocation", checkpoint_path
        ),
        timeout_sec,
    )


def read_kll_quantiles(
    spark: SparkSession, state_path: str, probs: list[float]
) -> DataFrame:
    """Merge the streamed sketch state and extract quantiles:
    ``(p, approx_value, n)`` — ``n`` is exact (KLL tracks it exactly),
    values carry the sketch's rank-error bound."""
    from ..ops.sketches import kll_rollup

    return kll_rollup(spark.read.parquet(state_path), [], probs=probs)
