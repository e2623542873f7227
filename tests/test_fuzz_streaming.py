"""Randomized crash/replay fuzzing for the four stateful streaming
operators (corpus dedup, within-batch near self-dedup, IVF index
maintenance + compaction, snapshot upsert), with state compactions
(IVF inverted lists AND corpus dedup state) interleaved mid-drain and
crash-injected at their own commit points.

The hand-written crash tests in test_streaming.py pin one scenario per
known window; this fuzzer drives the SAME ``foreachBatch`` functions the
streams run, but under randomized drain schedules — random batch splits,
duplicate replays of committed batches, and a crash injected around
EVERY state-commit call site (before the write, after the tmp write but
before the commit rename, and after the rename but before the ack) —
then asserts the final state equals a clean uninjected replay of the
identical schedule (and, for the upsert, an independent pure-Python
oracle). foreachBatch is at-least-once with monotonic batch ids, so a
crashed batch is always retried with the same id: that is exactly the
replay the harness performs.

Every family counts the injected crashes that actually fired, and
``test_fuzz_every_crash_seam_fired`` requires each crash seam to fire
at least once across the family's seeds. The seams are the names the
code calls: ``commit_write`` in the trigger bodies' modules,
``commit_compacted`` in ``upsert_stream``, and
``state_store.commit_compacted`` for the three compactors, which all
run inside ``state_store.compact_kind``.

Seed count: SPARK_GRAFT_FUZZ_STREAM_N (default 12 per operator family in
the suite — a streaming seed costs ~40 s of parquet state churn, two
orders heavier than a batch-fuzz seed); the committed hunt log runs 500+
(COVERAGE.md).
"""

from __future__ import annotations

import collections
import glob
import os
import random
import shutil

import pytest

pytestmark = pytest.mark.fuzz  # excluded from the fast gate (-m 'not fuzz')
from pyspark.sql import functions as F

from v3_polars_spark.streaming import dedup_stream as ds
from v3_polars_spark.streaming import ann_stream as anns
from v3_polars_spark.streaming import upsert_stream as ups
from v3_polars_spark.streaming import state_store

N_SEEDS = int(os.environ.get("SPARK_GRAFT_FUZZ_STREAM_N", "12"))
_BLOCKS = 4  # each family's seeds are split over this many test blocks

_CRASH_MODES = ("before_write", "tmp_no_rename", "after_rename")


class InjectedCrash(RuntimeError):
    pass


class _CrashingCommit:
    """Wraps a state_store commit function: the ``target``-th call fails
    in the chosen mode. Covers the three windows around every commit
    point — nothing written, tmp written but not renamed (invisible
    garbage), renamed but the caller never returned (committed state,
    lost ack)."""

    def __init__(self, real, target: int, mode: str):
        self.real, self.target, self.mode, self.calls = real, target, mode, 0
        self.crashes = 0

    def __call__(self, df, final_dir, *args):
        self.calls += 1
        if self.calls == self.target:
            self.crashes += 1
            if self.mode == "before_write":
                raise InjectedCrash(final_dir)
            if self.mode == "tmp_no_rename":
                parent, base = os.path.split(final_dir)
                os.makedirs(parent, exist_ok=True)
                tmp = os.path.join(parent, f".tmp-{base}-fuzzdead")
                df.write.mode("overwrite").parquet(tmp)
                raise InjectedCrash(final_dir)
            self.real(df, final_dir, *args)
            raise InjectedCrash(final_dir)
        self.real(df, final_dir, *args)


def _drive(fn, batches, rng, module, commit_names, start_id=0):
    """Run the batch schedule with randomized injections. Every batch is
    ultimately applied (a crashed attempt is retried with the same id —
    foreachBatch at-least-once); committed batches may also be replayed.
    Returns the number of injected crashes that fired."""
    fired = 0
    for bid, df in enumerate(batches, start=start_id):
        action = rng.choice(("normal", "replay", "crash", "crash"))
        if action == "crash":
            name = rng.choice(commit_names)
            real = getattr(module, name)
            wrapper = _CrashingCommit(
                real, rng.randint(1, 3), rng.choice(_CRASH_MODES)
            )
            setattr(module, name, wrapper)
            try:
                fn(df, bid)
            except InjectedCrash:
                pass
            finally:
                setattr(module, name, real)
            fired += wrapper.crashes
            fn(df, bid)  # the retry (same id)
        else:
            fn(df, bid)
            if action == "replay":
                fn(df, bid)  # duplicate delivery of a committed batch
    return fired


def _crashing_compaction(compact, rng) -> int:
    """Run ``compact()`` with its first covers commit crashing in a random
    mode, then run it again (the retry path). The compactors commit
    through ``state_store.commit_compacted``, so that is the seam patched.
    Returns the number of injected crashes that fired (0 when the
    compaction had nothing to rewrite)."""
    real = state_store.commit_compacted
    wrapper = _CrashingCommit(real, 1, rng.choice(_CRASH_MODES))
    state_store.commit_compacted = wrapper
    try:
        compact()
    except InjectedCrash:
        pass
    finally:
        state_store.commit_compacted = real
    compact()  # retry path
    return wrapper.crashes


_SEAMS = {
    "corpus": ("commit_write", "commit_compacted"),
    "ivf": ("commit_write", "commit_compacted"),
    "upsert": ("commit_compacted",),
    "pack": ("commit_write", "commit_compacted"),
}


@pytest.fixture(scope="module")
def crash_log():
    """Injected crashes that fired, ``{family: {block: Counter(seam)}}``;
    checked by test_fuzz_every_crash_seam_fired once every block of a
    family has run."""
    return collections.defaultdict(dict)


def _split_batches(rng, items, max_batches=4):
    n_b = rng.randint(1, max_batches)
    cuts = sorted(rng.sample(range(1, len(items)), min(n_b - 1, len(items) - 1)))
    out, prev = [], 0
    for c in cuts + [len(items)]:
        out.append(items[prev:c])
        prev = c
    return [b for b in out if b]


# ---------------------------------------------------------------------------
# corpus dedup (exact and exact+near-self)
# ---------------------------------------------------------------------------

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]


def _docs(rng, n):
    rows = []
    for i in range(n):
        if rng.random() < 0.4 and rows:
            text = rng.choice(rows)[1]  # exact duplicate of an earlier doc
        else:
            text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(4, 10)))
        rows.append((i, text))
    return rows


def _run_dedup_schedule(
    spark, root, batches_rows, rng, inject, near_self, fired=None
):
    fn = ds.corpus_dedup_batch_fn(
        spark, root, near=near_self, near_self=near_self, num_hashes=8, bands=2
    )
    batches = [
        spark.createDataFrame(rows, "doc_id long, text string")
        for rows in batches_rows
    ]
    if inject:
        for bid, df in enumerate(batches):
            fired["commit_write"] += _drive(
                fn, [df], random.Random(rng.random()), ds,
                ("commit_write",), start_id=bid,
            )
            if rng.random() < 0.3:
                # interleave a (possibly crashing) state compaction
                fired["commit_compacted"] += _crashing_compaction(
                    lambda: ds.compact_corpus_state(spark, root), rng
                )
    else:
        for bid, df in enumerate(batches):
            fn(df, bid)
    from v3_polars_spark.streaming import read_corpus

    return sorted(r["doc_id"] for r in read_corpus(spark, root).collect())


@pytest.mark.parametrize("block", range(_BLOCKS))
def test_fuzz_corpus_dedup_crash_replay(spark, tmp_path, block, crash_log):
    per = -(-N_SEEDS // _BLOCKS)
    fired = collections.Counter()
    for seed in range(block * per, min((block + 1) * per, N_SEEDS)):
        rng = random.Random(1000 + seed)
        rows = _docs(rng, rng.randint(6, 24))
        batches_rows = _split_batches(rng, rows)
        near_self = seed % 3 == 0
        crashed = _run_dedup_schedule(
            spark, str(tmp_path / f"c{seed}"), batches_rows,
            random.Random(seed), True, near_self, fired,
        )
        clean = _run_dedup_schedule(
            spark, str(tmp_path / f"x{seed}"), batches_rows,
            random.Random(seed), False, near_self,
        )
        assert crashed == clean, (seed, crashed, clean)
        # no fuzz garbage left visible
        assert not glob.glob(str(tmp_path / f"c{seed}" / "*" / ".tmp-*")), seed
        shutil.rmtree(tmp_path / f"c{seed}", ignore_errors=True)
        shutil.rmtree(tmp_path / f"x{seed}", ignore_errors=True)
    crash_log["corpus"][block] = fired


# ---------------------------------------------------------------------------
# IVF assign + compaction
# ---------------------------------------------------------------------------


def _vecs(rng, n, dim=6):
    return [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
        for i in range(n)
    ]


def _run_ivf_schedule(
    spark, root, seed_rows, batches_rows, rng, inject, fired=None
):
    anns.seed_ivf_index(
        spark.createDataFrame(seed_rows, "vec_id long, embedding array<float>"),
        root,
        n_centroids=3,
        iters=1,
    )
    fn = anns.ivf_assign_batch_fn(spark, root)
    batches = [
        spark.createDataFrame(
            [(i + 1000, v) for i, v in rows],
            "vec_id long, embedding array<float>",
        )
        for rows in batches_rows
    ]
    for bid, df in enumerate(batches):
        if inject and rng.random() < 0.5:
            fired["commit_write"] += _drive(
                fn, [df], random.Random(rng.random()), anns,
                ("commit_write",), start_id=bid,
            )
        else:
            fn(df, bid)
        # interleave a (possibly crashing) compaction mid-drain
        if inject and rng.random() < 0.4:
            fired["commit_compacted"] += _crashing_compaction(
                lambda: anns.compact_ivf_index(spark, root), rng
            )
        elif rng.random() < 0.2:
            anns.compact_ivf_index(spark, root)
    _, assigned = anns.read_ivf_index(spark, root)
    return sorted(
        (r["vec_id"], r["cluster_id"]) for r in assigned.collect()
    )


@pytest.mark.parametrize("block", range(_BLOCKS))
def test_fuzz_ivf_assign_compact_crash_replay(spark, tmp_path, block, crash_log):
    per = -(-N_SEEDS // _BLOCKS)
    fired = collections.Counter()
    for seed in range(block * per, min((block + 1) * per, N_SEEDS)):
        rng = random.Random(2000 + seed)
        seed_rows = _vecs(rng, rng.randint(4, 10))
        batches_rows = _split_batches(rng, _vecs(rng, rng.randint(4, 16)))
        crashed = _run_ivf_schedule(
            spark, str(tmp_path / f"c{seed}"), seed_rows, batches_rows,
            random.Random(seed), True, fired,
        )
        clean = _run_ivf_schedule(
            spark, str(tmp_path / f"x{seed}"), seed_rows, batches_rows,
            random.Random(seed), False,
        )
        assert crashed == clean, (seed, crashed, clean)
        shutil.rmtree(tmp_path / f"c{seed}", ignore_errors=True)
        shutil.rmtree(tmp_path / f"x{seed}", ignore_errors=True)
    crash_log["ivf"][block] = fired


# ---------------------------------------------------------------------------
# snapshot upsert — independent pure-Python oracle
# ---------------------------------------------------------------------------


def _events(rng, n_keys, n):
    return [
        (rng.randint(0, n_keys - 1), i, f"p{i}") for i in range(n)
    ]


@pytest.mark.parametrize("block", range(_BLOCKS))
def test_fuzz_snapshot_upsert_crash_replay(spark, tmp_path, block, crash_log):
    per = -(-N_SEEDS // _BLOCKS)
    fired = collections.Counter()
    for seed in range(block * per, min((block + 1) * per, N_SEEDS)):
        rng = random.Random(3000 + seed)
        rows = _events(rng, rng.randint(2, 6), rng.randint(5, 20))
        batches_rows = _split_batches(rng, rows)
        root = str(tmp_path / f"s{seed}")
        fn = ups.snapshot_upsert_batch_fn(spark, root, keys=["k"], order=["seq"])
        batches = [
            spark.createDataFrame(b, "k long, seq long, payload string")
            for b in batches_rows
        ]
        fired["commit_compacted"] += _drive(
            fn, batches, random.Random(seed), ups, ("commit_compacted",)
        )
        got = {
            r["k"]: (r["seq"], r["payload"])
            for r in ups.read_snapshot(spark, root).collect()
        }
        want = {}
        for k, seq, p in rows:  # pure-Python latest-per-key
            if k not in want or seq >= want[k][0]:
                want[k] = (seq, p)
        assert got == want, (seed, got, want)
        shutil.rmtree(root, ignore_errors=True)
    crash_log["upsert"][block] = fired


# ---------------------------------------------------------------------------
# streaming training-shard packer (+ crashing compactions interleaved)
# ---------------------------------------------------------------------------


def _tok_docs(rng, n):
    return [
        (
            i,
            [rng.choice("abcdef") for _ in range(rng.randint(0, 7))],
        )
        for i in range(n)
    ]


def _run_pack_schedule(spark, root, batches_rows, rng, inject, fired=None):
    from v3_polars_spark.streaming import pack_stream as ps

    fn = ps.token_pack_batch_fn(spark, root, max_len=4, sep_token="<s>")
    batches = [
        spark.createDataFrame(rows, "doc_id long, bpe_tokens array<string>")
        for rows in batches_rows
    ]
    if inject:
        for bid, df in enumerate(batches):
            fired["commit_write"] += _drive(
                fn, [df], random.Random(rng.random()), ps,
                ("commit_write",), start_id=bid,
            )
            if rng.random() < 0.3:
                fired["commit_compacted"] += _crashing_compaction(
                    lambda: ps.compact_packed_shards(spark, root), rng
                )
    else:
        for bid, df in enumerate(batches):
            fn(df, bid)
    from v3_polars_spark.streaming import read_pack_carry, read_packed_shards

    shards = sorted(
        (r.seq, tuple(r.tokens), r.n_tokens)
        for r in read_packed_shards(spark, root).collect()
    )
    return shards, read_pack_carry(spark, root)


@pytest.mark.parametrize("block", range(_BLOCKS))
def test_fuzz_token_pack_crash_replay(spark, tmp_path, block, crash_log):
    per = -(-N_SEEDS // _BLOCKS)
    fired = collections.Counter()
    for seed in range(block * per, min((block + 1) * per, N_SEEDS)):
        rng = random.Random(4000 + seed)
        rows = _tok_docs(rng, rng.randint(4, 16))
        batches_rows = _split_batches(rng, rows)
        crashed = _run_pack_schedule(
            spark, str(tmp_path / f"p{seed}"), batches_rows,
            random.Random(seed), True, fired,
        )
        clean = _run_pack_schedule(
            spark, str(tmp_path / f"q{seed}"), batches_rows,
            random.Random(seed), False,
        )
        assert crashed == clean, (seed, crashed, clean)
        # the clean run must itself equal the pure-Python layout
        stream = []
        for rows_b in batches_rows:
            for _, toks in rows_b:
                stream += list(toks) + ["<s>"]
        want_shards = sorted(
            (i, tuple(stream[i * 4:(i + 1) * 4]), 4)
            for i in range(len(stream) // 4)
        )
        assert clean[0] == want_shards, seed
        assert clean[1] == (len(stream) // 4, stream[len(stream) - len(stream) % 4:])
        assert not glob.glob(str(tmp_path / f"p{seed}" / "*" / ".tmp-*")), seed
        shutil.rmtree(tmp_path / f"p{seed}", ignore_errors=True)
        shutil.rmtree(tmp_path / f"q{seed}", ignore_errors=True)
    crash_log["pack"][block] = fired


def test_fuzz_every_crash_seam_fired(crash_log):
    """Every crash seam of every fuzz family above fired at least one
    injected crash across the family's seeds. A patch on a name the code
    no longer calls intercepts nothing, and the family would then pass
    without testing a single crash window. Runs after the families (file
    order); a family whose blocks did not all run is not checked."""
    checked = 0
    for family, seams in _SEAMS.items():
        blocks = crash_log.get(family, {})
        if len(blocks) < _BLOCKS:
            continue
        total = sum(blocks.values(), collections.Counter())
        print(f"{family}: injected crashes fired {dict(total)}")
        assert all(total[s] > 0 for s in seams), (family, dict(total))
        checked += 1
    if not checked:
        pytest.skip("no fuzz family ran all of its blocks")
