"""Driver-contract invariants: the 50-query correctness window stays
exactly 50, every window name exists, every query has an oracle, and any
query rotated past the window was already proven green in a committed
CORRECTNESS_r*.json — so the union of driver records + the committed
self-check always covers the full surface."""

import json
import os

import __spark_entry__ as em

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ordered_names():
    qs = em._raw_queries()
    prio = {n: i for i, n in enumerate(em._DRIVER_WINDOW)}
    return sorted(qs, key=lambda n: (prio.get(n, len(prio)), n)), qs


def test_window_is_exactly_fifty_known_names():
    ordered, qs = _ordered_names()
    assert len(em._DRIVER_WINDOW) == 50
    assert set(em._DRIVER_WINDOW) <= set(qs)
    assert ordered[:50] == em._DRIVER_WINDOW


def test_every_query_has_an_oracle():
    qs = em._raw_queries()
    missing = set(qs) - set(em.oracle_sql())
    assert not missing, f"queries without oracle_sql: {sorted(missing)}"


def _driver_proven():
    proven = set()
    for f in sorted(os.listdir(REPO)):
        if f.startswith("CORRECTNESS_r") and f.endswith(".json"):
            rec = json.load(open(os.path.join(REPO, f)))
            for name, row in rec.items():
                if isinstance(row, dict) and row.get("hash_match"):
                    proven.add(name)
    return proven


def test_rotated_out_queries_have_committed_green_records():
    """Every query outside the 50-slot window must be green SOMEWHERE
    committed: a per-round driver record (already driver-proven, rotated
    to the tail) or the full-surface CORRECTNESS_SELF.json (oracle-checked
    by the same harness, queued for a future round's window)."""
    ordered, _ = _ordered_names()
    proven = _driver_proven()
    rec = json.load(open(os.path.join(REPO, "CORRECTNESS_SELF.json")))
    self_green = {
        name
        for name, row in rec.get("results", {}).items()
        if row.get("hash_match")
    }
    uncovered_tail = set(ordered[50:]) - proven - self_green
    assert not uncovered_tail, (
        f"queries outside the driver window with no committed green "
        f"record anywhere: {sorted(uncovered_tail)} — run "
        f"tests/oracle_check.py and commit CORRECTNESS_SELF.json"
    )


def test_self_check_matrix_covers_full_surface():
    """The committed CORRECTNESS_SELF.json is the per-round self-check
    MATRIX: every declared query — including ones the driver's 50-slot
    sample happens to rotate out in a given round (e.g. dp_url_dedup in
    r12) and ones inherited mid-build (dp_e2e_pipeline) — must have a
    green full-surface row, so driver sample rotation can never mask a
    break. Regenerate with tests/oracle_check.py and commit each round."""
    qs = em.queries()
    rec = json.load(open(os.path.join(REPO, "CORRECTNESS_SELF.json")))
    rows = rec.get("results", rec)
    missing = [n for n in qs if not (rows.get(n) or {}).get("hash_match")]
    assert not missing, (
        f"declared queries without a green CORRECTNESS_SELF row: {missing}"
        " — run tests/oracle_check.py and commit the regenerated file"
    )


def test_window_drains_unproven_queue_first():
    """The computed window puts every not-yet-driver-proven query before
    any proven one: no window slot is wasted re-proving an already-proven
    query while an unproven one waits."""
    ordered, qs = _ordered_names()
    proven = _driver_proven()
    unproven = sorted(set(qs) - proven)
    expect_head = unproven[:50]
    assert em._DRIVER_WINDOW[: len(expect_head)] == expect_head
    # any proven entries inside the window only appear once the
    # unproven queue is shorter than 50
    assert len(expect_head) == min(50, len(unproven))


def test_queries_callable_registry_consistent():
    qs = em.queries()
    raw = em._raw_queries()
    assert set(qs) == set(raw)
    assert list(qs)[:50] == em._DRIVER_WINDOW


def test_cache_splits_handles_directory_parquet(tmp_path):
    """_cache_splits tolerates Spark-written directory-style tables
    (ADVICE r6): row counts come from summing fragment metadata."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "lineitem.parquet"
    d.mkdir()
    t = pa.table({"a": list(range(100))})
    pq.write_table(t[:50], str(d / "part-0.parquet"))
    pq.write_table(t[50:], str(d / "part-1.parquet"))
    (d / "_SUCCESS").touch()

    class _SC:
        defaultParallelism = 32

    class _Spark:
        sparkContext = _SC()

    assert em._cache_splits(_Spark(), str(tmp_path), "lineitem") == 8


def test_bench_rejects_unknown_extra_query_before_spark(tmp_path):
    """A misspelled SPARK_GRAFT_BENCH_EXTRA name exits non-zero with a
    message naming it, before any Spark session or input is touched (the
    sf dir here does not exist)."""
    import subprocess
    import sys

    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_EXTRA="dp_unigram,no_such_query",
        SPARK_GRAFT_SF_DIR=str(tmp_path / "missing"),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert "no_such_query" in out.stderr
    assert out.stdout == ""


def test_session_memo_keys_on_the_session_object():
    """A memo entry belongs to its session object: a later session must
    rebuild even when it reuses a dropped session's id()."""

    class _Session:
        pass

    calls = []

    def build():
        calls.append(1)
        return len(calls)

    first = _Session()
    assert em._session_memo(first, ("k",), build) == 1
    assert em._session_memo(first, ("k",), build) == 1
    del first
    second = _Session()
    assert em._session_memo(second, ("k",), build) == 2
    assert calls == [1, 1]
