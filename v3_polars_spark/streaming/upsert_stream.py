"""Streaming snapshot maintenance: keep a keyed latest-state table up to
date from an event stream with ``foreachBatch`` + the relational MERGE.

The batch path derives snapshots by re-aggregating the full log
(``ops.dedup.dedup_last``); at 100 TB the log re-read is the cost you
stop paying — instead each micro-batch is collapsed to its final state
per key (dedup_last over the batch) and MERGEd into the persisted
snapshot (``ops.merge.merge_upsert``). Per trigger that is one join
against the snapshot, whose size is bounded by live keys, not log
length. Checkpointing makes the maintenance resumable.

Each trigger commits the FULL merged snapshot as a new version under the
``state_store`` covers protocol: one atomic rename both publishes the
new version and retires every older one from readers
(:func:`read_snapshot` takes the newest uncovered dir), so there is no
crash instant at which the snapshot is missing or doubled — the naive
rmtree-then-rename swap this replaced had exactly that window (crash
between the two = total state loss). A replayed batch whose version dir
exists is a no-op; replay can only ever target the NEWEST batch id
(checkpoint ids are monotonic), whose dir is never covered, so
exactly-once holds even after old versions are reclaimed.

Equivalence with the batch derivation (stream-maintained snapshot ==
dedup_last over the whole log) and the crash/replay matrix are pinned in
tests/test_streaming.py and fuzzed in tests/test_fuzz_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..ops.dedup import dedup_last
from ..ops.merge import merge_upsert
from .state_store import (
    batch_dir,
    batch_id_of,
    begin_trigger,
    commit_compacted,
    data_dirs,
    drain_available_now,
    gc_covered,
)

_SNAP = "snapshot"


def read_snapshot(spark, snapshot_root: str) -> DataFrame | None:
    """The current snapshot version (newest uncovered committed dir), or
    ``None`` if no version has landed data yet."""
    dirs = data_dirs(snapshot_root, _SNAP)
    if not dirs:
        return None
    return spark.read.parquet(max(dirs, key=batch_id_of))


def snapshot_upsert_batch_fn(
    spark,
    snapshot_root: str,
    keys: list[str],
    order: list[str],
):
    """The ``foreachBatch`` function :func:`streaming_snapshot_upsert`
    runs — exposed so tests can wrap it with failure injection."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        out_dir = batch_dir(snapshot_root, _SNAP, batch_id)
        if begin_trigger(out_dir):
            return  # replay of a committed version: exactly-once no-op
        # retry path: reclaim versions a crashed attempt covered but never
        # GC'd
        gc_covered(snapshot_root, _SNAP)
        latest = dedup_last(batch_df, keys=keys, order=order)
        prior_dirs = data_dirs(snapshot_root, _SNAP)
        if prior_dirs:
            target = spark.read.parquet(max(prior_dirs, key=batch_id_of))
            merged = merge_upsert(target, latest.select(target.columns), keys)
        else:
            merged = latest
        commit_compacted(
            merged, out_dir, [batch_id_of(d) for d in prior_dirs]
        )
        gc_covered(snapshot_root, _SNAP)

    return _apply


def streaming_snapshot_upsert(
    stream_df: DataFrame,
    snapshot_path: str,
    checkpoint_path: str,
    keys: list[str],
    order: list[str],
    timeout_sec: int = 300,
) -> None:
    """Maintain ``snapshot_path`` as the latest row per ``keys`` (ties
    broken by ``order``, same contract as ``dedup_last``) from
    ``stream_df``, draining what is currently available (AvailableNow).
    Read the current state with :func:`read_snapshot`.

    Within one micro-batch the batch is first collapsed with
    ``dedup_last``; rows already in the snapshot lose to any batch row
    for the same key (micro-batches arrive in order for a file-source
    log — the reference ingest's append discipline)."""
    fn = snapshot_upsert_batch_fn(
        stream_df.sparkSession, snapshot_path, keys=keys, order=order
    )
    drain_available_now(
        stream_df.writeStream.foreachBatch(fn).option(
            "checkpointLocation", checkpoint_path
        ),
        timeout_sec,
    )
