"""Pure-filesystem unit tests for the state_store protocol — the covers
manifest, compaction source selection, the foreachBatch trigger guard and
the AvailableNow drain — checkable without a Spark session (fuzz and
integration coverage lives in test_streaming.py, test_pack_stream.py and
test_fuzz_streaming.py)."""

import json
import os

import pytest

from v3_polars_spark.streaming.state_store import (
    _COVERS,
    batch_id_of,
    begin_trigger,
    compaction_sources,
    covers_of,
    data_dirs,
    gc_covered,
)


def _mk(root, kind, bid, covers=None, data=True):
    d = os.path.join(root, kind, f"batch={bid}")
    os.makedirs(d)
    if data:
        open(os.path.join(d, "part-00000"), "w").write("x")
    if covers is not None:
        json.dump(covers, open(os.path.join(d, _COVERS), "w"))
    return d


def test_covered_dirs_excluded_even_before_gc(tmp_path):
    root = str(tmp_path)
    _mk(root, "k", -1)
    _mk(root, "k", 0)
    _mk(root, "k", 1)
    _mk(root, "k", -2, covers=[-1, 0, 1])
    assert [batch_id_of(d) for d in data_dirs(root, "k")] == [-2]


def test_covers_chain_stays_sound_after_partial_gc(tmp_path):
    """-3 covers {-2, 2}; -2 covers {-1, 0, 1}. Even with EVERY covered
    dir still on disk (no GC ran), only -3 and uncovered newer triggers
    are visible — exclusion is the union of all manifests."""
    root = str(tmp_path)
    for b in (-1, 0, 1):
        _mk(root, "k", b)
    _mk(root, "k", -2, covers=[-1, 0, 1])
    _mk(root, "k", 2)
    _mk(root, "k", -3, covers=[-2, 2])
    _mk(root, "k", 3)  # new trigger after the second compaction
    assert [batch_id_of(d) for d in data_dirs(root, "k")] == [-3, 3]


def test_gc_bottom_up_never_resurrects_sources(tmp_path):
    """gc_covered must delete a covered compacted dir's OWN sources
    before the dir itself: deleting -2 first would drop the only
    manifest excluding -1/0/1 and resurrect them as visible duplicates.
    After a full GC only the live head remains."""
    root = str(tmp_path)
    for b in (-1, 0, 1):
        _mk(root, "k", b)
    _mk(root, "k", -2, covers=[-1, 0, 1])
    _mk(root, "k", -3, covers=[-2])
    n = gc_covered(root, "k")
    assert n == 4  # -2 and its three sources
    assert [batch_id_of(d) for d in data_dirs(root, "k")] == [-3]
    # idempotent
    assert gc_covered(root, "k") == 0


def test_empty_marker_dirs_survive_gc_and_listing(tmp_path):
    """A zero-row committed batch (dir without part files) is invisible
    to readers but is an exactly-once marker — GC of unrelated covers
    must not touch it."""
    root = str(tmp_path)
    _mk(root, "k", 0)
    _mk(root, "k", 1, data=False)  # empty marker
    _mk(root, "k", -2, covers=[0])
    gc_covered(root, "k")
    assert os.path.isdir(os.path.join(root, "k", "batch=1"))
    assert [batch_id_of(d) for d in data_dirs(root, "k")] == [-2]


def _ids(dirs):
    return [batch_id_of(d) for d in dirs]


def test_compaction_excludes_newest_trigger(tmp_path):
    root = str(tmp_path)
    for b in (-1, 0, 1, 2):
        _mk(root, "k", b)
    assert _ids(compaction_sources(root, "k")) == [-1, 0, 1]
    assert _ids(compaction_sources(root, "k", exclude_newest=False)) == [-1, 0, 1, 2]


def test_compaction_newest_trigger_counts_dirs_without_data(tmp_path):
    """The newest trigger is the highest id >= 0 over EVERY committed dir:
    when it committed no data (a marker-only dir), nothing with data is
    held back — trigger 1 is acknowledged, since a newer batch ran."""
    root = str(tmp_path)
    for b in (-1, 0, 1):
        _mk(root, "k", b)
    _mk(root, "k", 2, data=False)
    assert _ids(compaction_sources(root, "k")) == [-1, 0, 1]
    assert os.path.isdir(os.path.join(root, "k", "batch=2"))


def test_compaction_sweeps_dead_tmp_dirs(tmp_path):
    root = str(tmp_path)
    for b in (0, 1):
        _mk(root, "k", b)
    for name in (".tmp-batch=-2-dead", ".tmp-batch=1-dead"):
        os.makedirs(os.path.join(root, "k", name, "sub"))
    compaction_sources(root, "k")
    assert sorted(os.listdir(os.path.join(root, "k"))) == ["batch=0", "batch=1"]


def test_compaction_collects_covered_dirs_before_listing(tmp_path):
    """A crashed compaction committed -2 (covering -1 and 0) but never
    reclaimed its sources: the retry path deletes them first, and only
    the uncovered dirs become sources."""
    root = str(tmp_path)
    for b in (-1, 0, 1, 2):
        _mk(root, "k", b)
    _mk(root, "k", -2, covers=[-1, 0])
    assert _ids(compaction_sources(root, "k")) == [-2, 1]
    assert sorted(os.listdir(os.path.join(root, "k"))) == [
        "batch=-2", "batch=1", "batch=2",
    ]


def test_corpus_compaction_skips_state_without_docs_marker(tmp_path):
    """Batch 3 crashed after committing its fingerprints but before its
    docs marker: the orphan is no compaction source (the replay removes
    and recomputes it). The newest docs trigger (1) is excluded, which
    leaves one source per kind, so nothing is rewritten and no Spark
    session is needed."""
    from v3_polars_spark.streaming.dedup_stream import (
        _DOCS,
        _FP,
        compact_corpus_state,
    )

    root = str(tmp_path)
    for b in (0, 1):
        _mk(root, _DOCS, b)
        _mk(root, _FP, b)
    _mk(root, _FP, 3)
    stats = compact_corpus_state(None, root)
    assert stats[_FP] == {"dirs_before": 1, "files_before": 1, "files_after": 1}
    assert stats[_DOCS]["dirs_before"] == 1
    assert os.path.isdir(os.path.join(root, _FP, "batch=3"))
    sources = compaction_sources(
        root, _FP, keep=lambda b: b < -1 or b in {0, 1}, marker=_DOCS
    )
    assert _ids(sources) == [0]


def test_trigger_guard_committed_dir_is_a_noop(tmp_path):
    root = str(tmp_path)
    done = _mk(root, "k", 3)
    dead = os.path.join(root, "k", ".tmp-batch=3-dead")
    os.makedirs(dead)
    assert begin_trigger(done) is True
    assert os.path.isdir(dead)  # a committed batch's replay touches nothing


def test_trigger_guard_sweeps_only_its_own_dead_tmp_dirs(tmp_path):
    root = str(tmp_path)
    kind = os.path.join(root, "k")
    for name in (".tmp-batch=4-dead", ".tmp-batch=4-dead2", ".tmp-batch=40-live"):
        os.makedirs(os.path.join(kind, name))
    assert begin_trigger(os.path.join(kind, "batch=4")) is False
    assert os.listdir(kind) == [".tmp-batch=40-live"]


class _StandInQuery:
    name, id = "stuck_drain", "q-1"

    def __init__(self, terminates):
        self.isActive, self.terminates, self.stopped = True, terminates, False

    def awaitTermination(self, timeout=None):
        if self.terminates:
            self.isActive = False
        return self.terminates

    def stop(self):
        self.isActive, self.stopped = False, True


class _StandInWriter:
    def __init__(self, terminates):
        self.query, self.trigger_kw = _StandInQuery(terminates), None

    def format(self, *_):
        return self

    def option(self, *_):
        return self

    def outputMode(self, *_):
        return self

    def trigger(self, **kw):
        self.trigger_kw = kw
        return self

    def start(self):
        return self.query


class _StandInStream:
    def __init__(self, terminates):
        self.writeStream = _StandInWriter(terminates)


def test_drain_that_times_out_is_stopped_and_raises():
    """A drain still running at its deadline must not return as if the
    sink were complete: the query is stopped and TimeoutError names it."""
    from v3_polars_spark.streaming import run_available_now

    stream = _StandInStream(terminates=False)
    with pytest.raises(TimeoutError, match="stuck_drain"):
        run_available_now(stream, "sink", "ckpt", timeout_sec=0)
    assert stream.writeStream.trigger_kw == {"availableNow": True}
    assert stream.writeStream.query.stopped


def test_drain_that_finishes_returns():
    from v3_polars_spark.streaming import run_available_now

    stream = _StandInStream(terminates=True)
    run_available_now(stream, "sink", "ckpt", timeout_sec=0)
    assert not stream.writeStream.query.stopped


def test_sql_macro_error_branches():
    from v3_polars_spark.sql import asof_join_sql, resample_sql

    with pytest.raises(ValueError, match="strategy"):
        asof_join_sql("l", "r", "ts", ["k"], ["v"], ["c"], strategy="nearest")
    with pytest.raises(ValueError, match="dialect"):
        asof_join_sql("l", "r", "ts", ["k"], ["v"], ["c"], dialect="mysql")
    with pytest.raises(ValueError, match="divide"):
        resample_sql("t", "ts", 7, {"n": "COUNT(*)"})
