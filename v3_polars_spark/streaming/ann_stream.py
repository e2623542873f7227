"""Streaming IVF index maintenance: keep an ANN index current as an
embedding stream lands, without ever re-scanning the indexed corpus —
the serving-side twin of ``dedup_stream``'s ingest discipline (reference
analog: the same segmented incremental loop, data_update.py:191-292,
applied to the vector store a 100 TB embedding pipeline keeps beside its
documents).

Per micro-batch (``foreachBatch``):

1. assign the batch's vectors to their nearest centroid
   (``datapipe.similarity.ivf_assign`` — broadcast centroid table,
   one scan of the batch, NO shuffle of vectors)
2. append the assignments as a new committed batch dir under the index
   root (``state_store`` atomic tmp-rename protocol)

The coarse quantizer is FIXED at seed time (``seed_ivf_index`` trains it
on the corpus you already have, exactly like FAISS trains on a sample
and then adds vectors forever): per-trigger cost is O(batch), the index
never rebuilds, and every committed batch is immediately probe-able —
``read_ivf_index`` + ``datapipe.similarity.ivf_search`` serve queries
against the union of all committed inverted-list segments. Assignment is
a pure per-vector function of (vector, centroids), so streamed ≡ batch
``ivf_assign`` row-for-row (the oracle replays exactly that), and the
exactly-once story needs only the single-dir commit: a replayed batch
whose dir exists is a no-op; a crash mid-write leaves an invisible
dot-tmp dir the replay sweeps.

When drift monitoring (``datapipe.similarity.centroid_drift`` over the
per-batch assignment means) says the quantizer has gone stale, retrain
with ``seed_ivf_index`` into a fresh root and re-drain — the rebuild
decision is a policy knob, not an operator concern.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..datapipe.similarity import ivf_assign, ivf_build
from .state_store import (
    batch_dir,
    begin_trigger,
    commit_write,
    compact_kind,
    data_dirs,
    drain_available_now,
)

_CENTROIDS = "centroids"
_ASSIGNED = "assigned"


def seed_ivf_index(
    corpus: DataFrame,
    index_root: str,
    n_centroids: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train the coarse quantizer on ``corpus`` and install it (batch -1)
    together with the corpus's own assignments — streamed batches extend
    the inverted lists from the first trigger. Centroids are written
    LAST: the assign path reads them, so a half-seeded root (assignments
    without centroids) is treated as unseeded by :func:`read_ivf_index`
    rather than served with a torn quantizer."""
    centroids = ivf_build(corpus, n_centroids, iters, id_col, vec_col)
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    commit_write(
        ivf_assign(c, centroids), batch_dir(index_root, _ASSIGNED, -1)
    )
    commit_write(centroids, batch_dir(index_root, _CENTROIDS, -1))


def read_ivf_index(spark, index_root: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assigned) for ``datapipe.similarity.ivf_search``:
    the fixed quantizer plus the union of every committed assignment
    segment, with the ``batch`` provenance partition column (seed is
    batch -1)."""
    cdirs = data_dirs(index_root, _CENTROIDS)
    if not cdirs:
        raise FileNotFoundError(f"no seeded IVF index under {index_root}")
    centroids = spark.read.parquet(*cdirs)
    adirs = data_dirs(index_root, _ASSIGNED)
    assigned = spark.read.option(
        "basePath", os.path.join(index_root, _ASSIGNED)
    ).parquet(*adirs)
    return centroids, assigned


_CURRENT = "CURRENT"


def set_current_ivf_root(base: str, root: str) -> None:
    """Atomically repoint the serving index under ``base`` to ``root``
    (one ``os.replace`` of the CURRENT pointer file — readers see the old
    or the new root, never a torn path). The root-swap half of
    :func:`retrain_ivf_index`."""
    import uuid as _uuid

    os.makedirs(base, exist_ok=True)
    tmp = os.path.join(base, f".tmp-{_CURRENT}-{_uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(root)
    os.replace(tmp, os.path.join(base, _CURRENT))


def current_ivf_root(base: str) -> str:
    """The serving index root under ``base`` (see
    :func:`set_current_ivf_root`)."""
    with open(os.path.join(base, _CURRENT)) as f:
        return f.read().strip()


def retrain_ivf_index(
    spark,
    old_root: str,
    new_root: str,
    n_centroids: int = 16,
    iters: int = 1,
) -> None:
    """Quantizer refresh: retrain the coarse quantizer on EVERYTHING the
    old index holds and rebuild into ``new_root`` — the recovery path
    when drift monitoring (``datapipe.similarity.centroid_drift`` between
    the seed segment and recent streamed batches) says the fixed seed
    quantizer has gone stale and recall is degrading (FAISS's
    retrain-and-readd, expressed as one Spark pass).

    ``seed_ivf_index`` over the old index's vector union IS the batch
    re-assignment: every previously-indexed vector lands in the new
    root's seed segment under the fresh centroids. The old root stays
    untouched and servable throughout; the caller flips the serving
    pointer with :func:`set_current_ivf_root` (atomic) when the rebuild
    is committed, then resumes the drain against the new root — the SAME
    checkpoint is correct, because every batch the old checkpoint marks
    processed was carried into the new root by the re-assignment.
    Recall recovery is pinned end-to-end (drift → retrain → swap →
    resumed drain → recall@10 back above the SLO) in
    tests/test_streaming.py and examples/ivf_retrain_recall.py."""
    _, assigned = read_ivf_index(spark, old_root)
    id_col = assigned.columns[0]
    corpus = assigned.select(
        F.col(id_col), F.col("__v").alias("embedding")
    )
    seed_ivf_index(
        corpus, new_root, n_centroids=n_centroids, iters=iters, id_col=id_col
    )


def compact_ivf_index(
    spark,
    index_root: str,
    target_rows_per_file: int = 2_000_000,
    id_col: str = "vec_id",
    exclude_newest: bool = True,
) -> dict:
    """Rewrite the accumulated per-trigger inverted-list segments into
    right-sized files — the small-files killer for a long-lived streaming
    index (thousands of triggers = thousands of tiny parquet segments;
    the batch side's ``tables.compact_segments`` problem, solved with the
    same atomic-swap discipline the segment writes already use, reference
    segment-file model: /root/reference/v3/helpers/data_update.py:29-59).

    Protocol (safe against a concurrent drain AND concurrent probes):

    1. snapshot the committed segment list (a drain committing new
       triggers after the snapshot is untouched — new dirs are never in
       the covers list);
    2. write every snapshot row, clustered contiguously by inverted list
       (``repartitionByRange(cluster_id, id)``), into ONE new segment
       ``batch=<g>`` where g is the next id below the seed's -1 — the
       generation counter can never collide with the checkpoint's
       non-negative trigger ids;
    3. commit with a covers manifest (:func:`state_store
       .commit_compacted`): the single rename atomically publishes the
       compacted segment and retires its sources from every listing —
       no reader ever sees a row twice or not at all;
    4. reclaim the retired dirs (:func:`state_store.gc_covered` — pure
       GC; a crash before it leaves only invisible garbage the next
       compaction sweeps).

    The newest trigger (highest id >= 0 over every committed dir, with
    or without data) is excluded by default: it is the one batch the
    checkpoint may not have acknowledged, and its dir is the replay's
    exactly-once marker (see ``state_store.compaction_sources``).

    Probe results are identical pre/post (assignment rows are merely
    re-filed); the ``batch`` provenance column coarsens to the
    generation id. Run ONE compactor at a time (trivially true from a
    maintenance job); the drain itself is not paused.
    """
    # Right-sized, not MINIMAL: probe-side parallelism comes from the file
    # count (the candidate re-rank join inherits the scan's partitioning,
    # and a sub-128MB parquet file is one task). Collapsing a small index
    # below the cluster's parallelism measured probe-wall REGRESSIONS at
    # sf1 (5.3 s with 41 segment files -> 46 s at 2 files -> 9.7 s at 9),
    # so the floor keeps one file per core while the index is small —
    # compaction's enemy is thousands of per-trigger files, not a few
    # dozen core-aligned ones. At real index sizes rows/target dominates
    # and the floor is inert. Tiny indexes (< ~4k rows/core) still shrink
    # below core count: scheduling beats scan width there.
    stats, rewrite = compact_kind(
        spark, index_root, _ASSIGNED, target_rows_per_file, exclude_newest,
        layout=lambda df, n: df.repartitionByRange(
            n, F.col("cluster_id"), F.col(id_col)
        ),
        rows_per_core=4_000,
    )
    out = {
        "compacted": rewrite is not None,
        "segments_before": stats["dirs_before"],
        "segments_after": stats["dirs_before"],
        "files_before": stats["files_before"],
        "files_after": stats["files_after"],
    }
    if rewrite is not None:
        out["segments_after"] = len(data_dirs(index_root, _ASSIGNED))
        out["rows"], out["generation"] = rewrite
    return out


def ivf_assign_batch_fn(
    spark,
    index_root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The ``foreachBatch`` function :func:`streaming_ivf_assign` runs —
    exposed so tests can wrap it with failure injection."""
    centroids = None

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal centroids
        out_dir = batch_dir(index_root, _ASSIGNED, batch_id)
        if begin_trigger(out_dir):
            return  # replay of a committed batch: exactly-once no-op
        if centroids is None:
            centroids = spark.read.parquet(
                batch_dir(index_root, _CENTROIDS, -1)
            ).cache()
        c = batch_df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
        )
        commit_write(ivf_assign(c, centroids), out_dir)

    return _apply


def streaming_ivf_assign(
    stream_df: DataFrame,
    index_root: str,
    checkpoint_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_sec: int = 600,
) -> None:
    """Drain ``stream_df`` (AvailableNow) into the IVF index under
    ``index_root`` (seed it first with :func:`seed_ivf_index`).
    Resumable: rerunning with the same ``checkpoint_path`` picks up
    after the last committed batch. Read the probe-ready index with
    :func:`read_ivf_index`."""
    fn = ivf_assign_batch_fn(
        stream_df.sparkSession, index_root, id_col=id_col, vec_col=vec_col
    )
    drain_available_now(
        stream_df.writeStream.foreachBatch(fn).option(
            "checkpointLocation", checkpoint_path
        ),
        timeout_sec,
    )
