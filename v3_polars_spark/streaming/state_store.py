"""Atomic per-batch state directories for foreachBatch pipelines.

The shared protocol of the streaming state maintainers (``dedup_stream``
corpus dedup, ``ann_stream`` IVF index, ``pack_stream`` token packer,
``upsert_stream`` snapshot upsert) and the one AvailableNow drain every
streaming entry point uses (those four, ``quality_stream``'s drift
monitor and ``ingest_stream.run_available_now``). Every micro-batch's
output is one directory per state kind, written to a dot-prefixed tmp
dir OUTSIDE the ``batch=*`` namespace and renamed into place — the
rename is the commit, so readers (which list only completed ``batch=*``
dirs) can never see a torn write, and a crashed attempt's leftovers are
both invisible and sweepable on replay. foreachBatch is at-least-once;
the committed-dir existence check makes each batch idempotent.

The protocol pieces, each written once:

- :func:`drain_available_now`: start a configured stream writer with
  ``trigger(availableNow=True)``, wait, and fail with ``TimeoutError``
  (after stopping the query) when the drain did not finish;
- :func:`begin_trigger`: the start of a ``foreachBatch`` trigger — the
  exactly-once no-op for a committed batch, else the sweep of its dead
  tmp dirs;
- :func:`commit_write` / :func:`commit_compacted`: the commit renames;
- :func:`compact_kind` (source selection in :func:`compaction_sources`):
  the covers-manifest compaction skeleton the corpus, IVF and packer
  compactors share — retry GC and tmp sweep, newest-trigger exclusion,
  next generation id, right-sized file count, commit, GC.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame

_COVERS = "_covers.json"


def batch_dir(root: str, kind: str, batch_id: int) -> str:
    return os.path.join(root, kind, f"batch={batch_id}")


def tmp_glob(final_dir: str) -> str:
    """Glob matching every tmp dir a crashed :func:`commit_write` to
    ``final_dir`` may have left behind."""
    parent, base = os.path.split(final_dir)
    return os.path.join(parent, f".tmp-{base}-*")


def drain_available_now(writer, timeout_sec: float) -> None:
    """Start the configured ``DataStreamWriter`` with
    ``trigger(availableNow=True)`` and wait up to ``timeout_sec`` for it
    to drain everything currently available. A query still running at
    the deadline is stopped and reported with ``TimeoutError``: the
    caller would otherwise read a partly drained sink as complete (the
    checkpoint makes a rerun resume where the stopped drain left off)."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        raise TimeoutError(
            f"AvailableNow drain {q.name or q.id} did not finish within "
            f"{timeout_sec}s; the query was stopped"
        )


def _rm_all(pattern: str) -> None:
    for d in glob.glob(pattern):
        shutil.rmtree(d, ignore_errors=True)


def sweep_tmp(final_dir: str) -> None:
    """Remove every dead tmp dir a crashed commit to ``final_dir`` left."""
    _rm_all(tmp_glob(final_dir))


def begin_trigger(final_dir: str) -> bool:
    """Start of a ``foreachBatch`` trigger whose commit dir is
    ``final_dir``: True when that dir exists — the batch is already
    committed, so the replay is an exactly-once no-op. Otherwise sweep
    the dead tmp dirs earlier attempts left (invisible to readers, but a
    replay must not accrete garbage) and return False."""
    if os.path.isdir(final_dir):
        return True
    sweep_tmp(final_dir)
    return False


def commit_write(df: DataFrame, final_dir: str) -> None:
    """Write ``df`` to a tmp dir and atomically rename into place. The
    rename is the commit: readers list only completed batch dirs, so a
    crash mid-write leaves nothing visible. Tmp dirs live OUTSIDE the
    ``batch=*`` namespace (dot-prefixed ``.tmp-batch=<id>-<hex>``) so the
    committed-dir glob in :func:`data_dirs` can never match a dead
    attempt's leftovers, and the dot prefix keeps Hadoop file listings
    from picking them up either."""
    parent, base = os.path.split(final_dir)
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".tmp-{base}-{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, final_dir)


def batch_id_of(d: str) -> int:
    return int(os.path.basename(d).split("=", 1)[1])


def covers_of(d: str) -> list[int]:
    """Batch ids a compacted segment dir supersedes (empty for normal
    per-trigger segments). The covers manifest travels INSIDE the dir, so
    the commit rename atomically both publishes the compacted data and
    retires its sources from every subsequent listing."""
    p = os.path.join(d, _COVERS)
    if not os.path.isfile(p):
        return []
    with open(p) as f:
        return json.load(f)


def commit_compacted(df: DataFrame, final_dir: str, covered: list[int]) -> None:
    """:func:`commit_write` plus a covers manifest: one rename publishes
    the compacted segment AND excludes the ``covered`` batch ids from
    :func:`data_dirs` — there is no window where a reader sees the data
    twice or not at all. The covered dirs become dead weight to be
    reclaimed by :func:`gc_covered`; a crash before that GC only leaves
    invisible garbage. The underscore filename keeps Spark's parquet
    reader from treating the manifest as data."""
    parent, base = os.path.split(final_dir)
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".tmp-{base}-{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, _COVERS), "w") as f:
        json.dump(sorted(int(i) for i in covered), f)
    os.rename(tmp, final_dir)


def gc_covered(root: str, kind: str) -> int:
    """Delete covered (superseded) dirs still on disk; returns the count
    removed. Deletion is bottom-up: a covered dir that is itself a
    compacted segment has its own sources deleted FIRST, then itself —
    so a crash at any point leaves every surviving source still covered
    by a surviving manifest (deleting the manifest-bearing dir first
    would resurrect its sources). Idempotent; safe to call at the start
    of every compaction as the retry path."""
    alldirs = {
        batch_id_of(d): d
        for d in glob.glob(os.path.join(root, kind, "batch=*"))
    }
    covered: set[int] = set()
    for d in alldirs.values():
        covered.update(covers_of(d))

    def _rm(bid: int) -> int:
        d = alldirs.get(bid)
        if d is None or not os.path.isdir(d):
            return 0
        n = 0
        for sub in covers_of(d):
            n += _rm(sub)
        shutil.rmtree(d)
        return n + 1

    return sum(_rm(bid) for bid in sorted(covered))


def committed_ids(root: str, kind: str) -> set[int]:
    """Ids of every committed ``batch=*`` dir of ``kind``, whether or not
    it holds data (an empty trigger's dir is still its commit marker)."""
    return {batch_id_of(d) for d in glob.glob(os.path.join(root, kind, "batch=*"))}


def _n_files(dirs: list[str]) -> int:
    return sum(len(glob.glob(os.path.join(d, "part-*"))) for d in dirs)


def data_dirs(root: str, kind: str) -> list[str]:
    """Committed batch dirs of one kind that contain data files (an
    empty batch commits a dir with only _SUCCESS — zero rows, skipped so
    multi-dir reads always have schema-bearing files). Dirs superseded by
    a compacted segment's covers manifest are excluded — compaction's
    commit rename flips them invisible atomically even before
    :func:`gc_covered` reclaims the disk."""
    dirs = sorted(glob.glob(os.path.join(root, kind, "batch=*")))
    covered: set[int] = set()
    for d in dirs:
        covered.update(covers_of(d))
    return [
        d
        for d in dirs
        if batch_id_of(d) not in covered
        and glob.glob(os.path.join(d, "part-*"))
    ]


def read_state(spark, root: str, kind: str, like: DataFrame) -> DataFrame:
    """Union of all committed state dirs of ``kind``; an empty frame with
    ``like``'s schema when no batch has landed data yet."""
    dirs = data_dirs(root, kind)
    if not dirs:
        return spark.createDataFrame([], like.schema)
    return spark.read.parquet(*dirs)


def compaction_sources(
    root: str,
    kind: str,
    exclude_newest: bool = True,
    keep: Callable[[int], bool] | None = None,
    marker: str | None = None,
) -> list[str]:
    """The dirs of ``kind`` one compaction rewrites. First the retry path:
    reclaim what a crashed earlier compaction covered but never GC'd and
    sweep its dead tmp dirs. Then the uncovered data dirs, minus

    - the newest trigger (``exclude_newest``): the highest id >= 0 over
      EVERY committed dir of ``marker`` (default ``kind``), data-bearing
      or not. It is the one batch the checkpoint may not have
      acknowledged; if its dir were covered and reclaimed, a restart
      would replay the batch, find no commit marker and commit it twice.
      It joins the next compaction once a newer trigger supersedes it.
      ``exclude_newest=False`` is for a drain known to be quiesced;
    - ids ``keep`` rejects (the corpus drops state dirs whose batch never
      committed its docs marker)."""
    trig = [i for i in committed_ids(root, marker or kind) if i >= 0]
    newest = max(trig) if exclude_newest and trig else None
    gc_covered(root, kind)
    _rm_all(os.path.join(root, kind, ".tmp-*"))
    return [
        d
        for d in data_dirs(root, kind)
        if batch_id_of(d) != newest and (keep is None or keep(batch_id_of(d)))
    ]


def compact_kind(
    spark,
    root: str,
    kind: str,
    target_rows_per_file: int,
    exclude_newest: bool = True,
    keep: Callable[[int], bool] | None = None,
    marker: str | None = None,
    select: Callable[[DataFrame], DataFrame] | None = None,
    layout: Callable[[DataFrame, int], DataFrame] | None = None,
    rows_per_core: int = 50_000,
) -> tuple[dict, tuple[int, int] | None]:
    """Rewrite the accumulated per-trigger dirs of one state kind into
    right-sized segments on the covers-manifest protocol — the skeleton
    of every streaming compactor. The sources (:func:`compaction_sources`)
    are read as one frame (``batch`` provenance column dropped), passed
    through ``select`` (default: all rows), laid out by ``layout(df,
    n_files)`` (default: ``repartition``) and committed as ONE segment
    ``batch=<g>``, g = ``min(-1, *ids) - 1`` (below the seed's -1, so the
    generation can never collide with a checkpoint's trigger ids), whose
    covers manifest retires the sources in the same rename. Covered dirs
    are then reclaimed; a crash anywhere leaves invisible tmp garbage or
    covered dirs the next call's retry path collects.

    The file count is ``ceil(rows / target_rows_per_file)`` with a floor
    of one file per core while the state is small (one file per
    ``rows_per_core`` rows, capped at the default parallelism): probe
    parallelism comes from the file count, so collapsing a small state
    below core count costs more scan wall than it saves in listing.

    Returns ``(stats, rewrite)``: stats = ``dirs_before`` (sources),
    ``files_before`` (their part files), ``files_after`` (part files of
    every uncovered data dir afterwards, = files_before when nothing was
    rewritten); rewrite = ``(rows, generation)``, or None when there was
    at most one source or no row to rewrite."""
    dirs = compaction_sources(root, kind, exclude_newest, keep, marker)
    files = _n_files(dirs)
    stats = {"dirs_before": len(dirs), "files_before": files, "files_after": files}
    if len(dirs) <= 1:
        return stats, None
    df = spark.read.option("basePath", os.path.join(root, kind)).parquet(*dirs)
    df = df.drop("batch")
    if select is not None:
        df = select(df)
    n = df.count()
    if n == 0:
        return stats, None
    ids = [batch_id_of(d) for d in dirs]
    gen = min(-1, *ids) - 1
    floor = min(spark.sparkContext.defaultParallelism, max(1, -(-n // rows_per_core)))
    n_files = max(-(-n // int(target_rows_per_file)), floor)
    out = layout(df, n_files) if layout is not None else df.repartition(n_files)
    commit_compacted(out, batch_dir(root, kind, gen), ids)
    gc_covered(root, kind)
    stats["files_after"] = _n_files(data_dirs(root, kind))
    return stats, (n, gen)
