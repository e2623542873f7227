"""Streaming incremental corpus dedup: grow a kept corpus batch-by-batch
from a document stream, deduping each micro-batch exactly + near against
everything kept so far — the production LLM-ingest shape of
``examples/incremental_dedup.py``, maintained as resumable streaming
state (reference analog: the segmented incremental ingest loop,
data_update.py:191-292, which appends one deduped segment per pull).

Per micro-batch (``foreachBatch``):

1. exact self-dedup of the batch              (datapipe.dedup.dedup_exact)
2. exact cross-dedup vs the kept corpus       (md5-fingerprint anti join —
                                               the dedup_against plan, run
                                               against PERSISTED fingerprints)
3. near cross-dedup vs the kept corpus        (datapipe.dedup.near_match_ids
                                               over persisted band buckets +
                                               shingle sets)
4. append the survivors (and their state) as a new corpus batch

The ordering is the scale contract (see examples/incremental_dedup.py):
exact passes collapse duplication FIRST so the near pass's candidate
join never sees duplicate groups.

**O(batch), not O(corpus), per trigger**: alongside each batch's
surviving docs the pipeline persists their md5 fingerprints, LSH band
buckets, and hashed shingle sets. Batch N therefore re-shingles only
the fresh side and joins it against resting state — the corpus TEXT is
never re-read or re-shingled, so per-trigger cost is bounded by batch
size + the (columnar, pruned) state scans. At 100 TB the state tables
are exactly the bucketed layout a warehouse would keep them in.

**Exactly-once**: foreachBatch is at-least-once (a crashed batch replays
with the same batch_id), so every write is a per-batch directory
committed by atomic tmp-dir rename, with the DOCS directory renamed
LAST as the commit point. A replay of a committed batch is a no-op (the
docs dir exists); a replay of a half-written batch first removes the
stale state dirs and recomputes from the same corpus state (batches
run serially, so the kept corpus a replay sees is identical to what
the crashed attempt saw). Pinned in tests/test_streaming.py alongside
batch ≡ streamed equivalence.

Within-batch NEAR duplicates both survive BY DEFAULT (matching the
example flow: near self-dedup of a crawl batch is a separate choice —
``near_dup_components`` — and keeping it out makes survivorship a pure
function of (doc text, prior corpus), which the batch-replay
equivalence tests rely on). ``near_self=True`` opts into a within-batch
near self-dedup arm — min-id-per-component survivorship via
``dedup_near``, run on the post-exact batch BEFORE the cross pass, so
survivorship stays a deterministic function of (batch contents, prior
corpus). Exact within-batch duplicates always collapse to the min-id
representative.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..datapipe.dedup import (
    _band_buckets,
    dedup_exact,
    dedup_near,
    fingerprint_md5,
    near_match_ids,
    shingle_hash_sets,
)
from .state_store import (
    batch_dir,
    begin_trigger,
    commit_write,
    committed_ids,
    compact_kind,
    data_dirs,
    drain_available_now,
    read_state,
    sweep_tmp,
)

# The commit protocol (atomic tmp-rename per-batch dirs, dot-prefixed tmp
# namespace, replay sweep, compaction skeleton) lives in
# streaming/state_store.py — shared with the other foreachBatch state
# maintainers.

# corpus_root subdirectories: kept documents + the three state tables a
# later batch needs to dedup against the corpus without re-reading it
_DOCS = "docs"
_FP = "state_fp"
_BUCKETS = "state_buckets"
_SHSETS = "state_shsets"


def read_corpus(spark, corpus_root: str) -> DataFrame:
    """The kept corpus: every committed batch's surviving docs, with the
    ``batch`` provenance partition column (seed batches are negative)."""
    dirs = data_dirs(corpus_root, _DOCS)
    if not dirs:
        raise FileNotFoundError(f"no committed corpus batches under {corpus_root}")
    base = os.path.join(corpus_root, _DOCS)
    return spark.read.option("basePath", base).parquet(*dirs)


def compact_corpus_state(
    spark,
    corpus_root: str,
    target_rows_per_file: int = 4_000_000,
    exclude_newest: bool = True,
) -> dict:
    """Rewrite each state kind's accumulated per-trigger dirs (docs,
    fingerprints, buckets, shingle sets) into right-sized segments — the
    corpus twin of ``ann_stream.compact_ivf_index``, on the same covers-
    manifest protocol (``state_store.compact_kind``): after thousands of
    triggers, EVERY batch probes a state union of thousands of tiny
    parquet files, so the per-trigger cost silently grows with trigger
    count (file listing + footer reads), not batch size. Compaction
    restores O(state bytes) reads.

    Same safety rules as the IVF compactor: the newest trigger's dirs are
    excluded by default (its docs dir is the exactly-once commit marker —
    a restart replaying an unacknowledged batch must find it; for the
    corpus the replay would actually converge anyway, because a replayed
    batch deduplicates against state that already contains it and commits
    empty survivors, but keeping the marker avoids even that re-run), and
    a crash anywhere leaves either invisible tmp garbage or covered dirs
    the next compaction's retry path reclaims. Run one compactor at a
    time; the drain itself is not paused. Returns per-kind (dirs_before,
    files_before, files_after)."""
    # committed = the docs dir EXISTS (docs rename is the batch commit
    # point; an empty dir is still the marker). A crashed attempt can
    # leave state dirs (fp/buckets/shsets) for a batch whose docs never
    # committed — the replay removes and recomputes them, so compacting
    # such an orphan would bake phantom fingerprints into the compacted
    # state permanently (future docs silently dropped against a survivor
    # that was never kept). Sources are therefore restricted to ids with
    # a docs marker, plus prior compacted generations (id < -1, which by
    # construction hold only previously-committed data).
    docs_ids = committed_ids(corpus_root, _DOCS)
    return {
        kind: compact_kind(
            spark, corpus_root, kind, target_rows_per_file, exclude_newest,
            keep=lambda bid: bid < -1 or bid in docs_ids, marker=_DOCS,
        )[0]
        for kind in (_DOCS, _FP, _BUCKETS, _SHSETS)
    }


def seed_corpus(
    df: DataFrame,
    corpus_root: str,
    batch_id: int = -1,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> None:
    """Install an already-kept corpus as batch ``batch_id`` (negative by
    convention, below every streamed batch) with the full dedup state —
    fingerprints, band buckets, shingle sets — so streamed batches dedup
    against it from the first trigger. ``df`` is written AS IS (it is
    the corpus you already trained on, not a candidate batch). The LSH
    params must match the ones passed to :func:`streaming_corpus_dedup`
    or buckets are not comparable across sides."""
    sets = shingle_hash_sets(df, text_col, id_col, n)
    commit_write(
        fingerprint_md5(df, text_col).select("fp").distinct(),
        batch_dir(corpus_root, _FP, batch_id),
    )
    commit_write(sets, batch_dir(corpus_root, _SHSETS, batch_id))
    commit_write(
        _band_buckets(sets, id_col, num_hashes, bands),
        batch_dir(corpus_root, _BUCKETS, batch_id),
    )
    commit_write(df, batch_dir(corpus_root, _DOCS, batch_id))


def corpus_dedup_batch_fn(
    spark,
    corpus_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    near: bool = True,
    near_self: bool = False,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.5,
):
    """The ``foreachBatch`` function :func:`streaming_corpus_dedup` runs —
    exposed so tests can wrap it with failure injection."""
    if near_self and not near:
        # the near_self arm lives inside the near pass (it feeds the
        # shingle/bucket state write); silently ignoring it would hand a
        # caller exact-only dedup when they asked for near self-dedup
        raise ValueError("near_self=True requires near=True")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        docs_dir = batch_dir(corpus_root, _DOCS, batch_id)
        if begin_trigger(docs_dir):
            return  # replay of a committed batch: exactly-once no-op
        # a half-written attempt may have committed state dirs but not
        # docs (docs rename is the commit point) — remove and recompute,
        # and sweep the tmp dirs the dead attempt left mid-write
        for kind in (_FP, _BUCKETS, _SHSETS):
            stale = batch_dir(corpus_root, kind, batch_id)
            shutil.rmtree(stale, ignore_errors=True)
            sweep_tmp(stale)

        # 1-2. exact self-dedup, then exact cross vs resting state.
        # NOT `s1 anti-join ref_fp`: a left_anti can only broadcast its
        # RIGHT side, and the right side here is the corpus — Spark would
        # shuffle the whole fp state on EVERY trigger. Instead probe the
        # corpus with the batch (semi join, batch side broadcast → the
        # corpus state is SCANNED, never shuffled), then anti-join the
        # matched set — bounded by batch size — back onto the batch.
        s1 = fingerprint_md5(dedup_exact(batch_df, text_col, id_col), text_col)
        ref_fp = read_state(spark, corpus_root, _FP, s1.select("fp"))
        matched_fp = ref_fp.join(
            F.broadcast(s1.select("fp").distinct()), ["fp"], "left_semi"
        )
        s2 = s1.join(F.broadcast(matched_fp), ["fp"], "left_anti").persist()
        base = None
        try:
            survivors = s2
            sets_new = None
            if near:
                base = s2
                if near_self:
                    # 2b. OPT-IN within-batch near self-dedup (the default
                    # keeps both — see module docstring): min-id-per-
                    # component survivorship via near_dup_components,
                    # deterministic, computed on the post-exact batch
                    # BEFORE the cross pass so the cross join never sees
                    # intra-batch duplicate groups. O(batch): the batch
                    # is the whole input here.
                    base = dedup_near(
                        s2, text_col, id_col, n, num_hashes, bands,
                        verify_threshold,
                    ).persist()
                # 3. near pass against persisted buckets + shingle sets;
                # the fresh side is shingled once and reused for the
                # survivor state written below
                sets_new = shingle_hash_sets(
                    base.drop("fp"), text_col, id_col, n
                ).persist()
                bk_new = _band_buckets(sets_new, id_col, num_hashes, bands)
                matched = near_match_ids(
                    sets_new,
                    bk_new,
                    read_state(spark, corpus_root, _SHSETS, sets_new),
                    read_state(spark, corpus_root, _BUCKETS, bk_new),
                    id_col=id_col,
                    verify_threshold=verify_threshold,
                    # micro-batch side is bounded by trigger sizing; the
                    # corpus bucket state is scanned, never shuffled
                    broadcast_new=True,
                )
                survivors = base.join(matched, [id_col], "left_anti")
            survivors = survivors.persist()

            # 4. state first, docs LAST (docs dir is the commit marker)
            commit_write(
                survivors.select("fp").distinct(),
                batch_dir(corpus_root, _FP, batch_id),
            )
            if near:
                keep_ids = survivors.select(id_col)
                sets_kept = sets_new.join(keep_ids, [id_col], "left_semi")
                commit_write(sets_kept, batch_dir(corpus_root, _SHSETS, batch_id))
                commit_write(
                    _band_buckets(sets_kept, id_col, num_hashes, bands),
                    batch_dir(corpus_root, _BUCKETS, batch_id),
                )
            commit_write(survivors.drop("fp"), docs_dir)
        finally:
            s2.unpersist()
            if base is not None and base is not s2:
                base.unpersist()
            if sets_new is not None:
                sets_new.unpersist()
            survivors.unpersist()

    return _apply


def streaming_corpus_dedup(
    stream_df: DataFrame,
    corpus_root: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    near: bool = True,
    near_self: bool = False,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.5,
    timeout_sec: int = 600,
) -> None:
    """Drain ``stream_df`` (AvailableNow) into the kept corpus under
    ``corpus_root``, deduping each micro-batch exactly + near against
    everything kept so far (see module docstring for the per-batch plan
    and the exactly-once commit protocol). Resumable: rerunning with the
    same ``checkpoint_path`` picks up after the last committed batch.
    Pre-seed an existing corpus with :func:`seed_corpus`; read the
    result with :func:`read_corpus`."""
    fn = corpus_dedup_batch_fn(
        stream_df.sparkSession,
        corpus_root,
        text_col=text_col,
        id_col=id_col,
        near=near,
        near_self=near_self,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        verify_threshold=verify_threshold,
    )
    drain_available_now(
        stream_df.writeStream.foreachBatch(fn).option(
            "checkpointLocation", checkpoint_path
        ),
        timeout_sec,
    )
