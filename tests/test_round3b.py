"""Round-3 continuation operators: SCD2 history, blocked fuzzy join,
generalized Hamming near-pairs + perceptual hash, sequence assembly."""

import pyspark.sql.functions as F
import pytest

from v3_polars_spark.datapipe import (
    assemble_sequences,
    hamming_near_pairs,
    make_fake_media_pairs,
    perceptual_hash,
)
from v3_polars_spark.ops import fuzzy_join_blocked, scd2_history, skeleton_key


# ---------------------------------------------------------------------------
# SCD2
# ---------------------------------------------------------------------------


def _log(spark):
    rows = [
        # key 1: A A B B A  -> versions A@1, B@3, A@5
        (1, 1, "A"), (1, 2, "A"), (1, 3, "B"), (1, 4, "B"), (1, 5, "A"),
        # key 2: single row -> one current version
        (2, 1, "X"),
        # key 3: tie on ts broken by seq: (1,C),(1,D) -> C then D
        (3, 1, "C"), (3, 1, "D"),
    ]
    return spark.createDataFrame(rows, ["k", "ts", "attr"])


def test_scd2_runs_and_intervals(spark):
    h = scd2_history(
        _log(spark), keys=["k"], ts_col="ts", attrs=["attr"], order=["attr"]
    )
    got = {
        (r.k, r.attr, r.valid_from): (r.valid_to, r.is_current)
        for r in h.collect()
    }
    assert got[(1, "A", 1)] == (3, False)
    assert got[(1, "B", 3)] == (5, False)
    assert got[(1, "A", 5)] == (None, True)
    assert got[(2, "X", 1)] == (None, True)
    # tie at ts=1 ordered by attr: C opens at 1 closed by D at 1
    assert got[(3, "C", 1)] == (1, False)
    assert got[(3, "D", 1)] == (None, True)


def test_scd2_null_attr_transitions(spark):
    rows = [(1, 1, None), (1, 2, None), (1, 3, "A"), (1, 4, None)]
    df = spark.createDataFrame(rows, "k int, ts int, attr string")
    h = scd2_history(df, keys=["k"], ts_col="ts", attrs=["attr"])
    vers = sorted((r.valid_from, r.attr) for r in h.collect())
    # NULL run collapses; NULL -> A -> NULL are three versions
    assert vers == [(1, None), (3, "A"), (4, None)]


def test_scd2_single_exchange(spark):
    h = scd2_history(
        _log(spark), keys=["k"], ts_col="ts", attrs=["attr"]
    )
    plan = h._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# fuzzy join
# ---------------------------------------------------------------------------


def test_fuzzy_join_matches_within_block(spark):
    left = spark.createDataFrame(
        [("blue bolt",), ("red widget",), ("green gear",)], ["a"]
    )
    right = spark.createDataFrame(
        [("blu3 bolt",), ("r3d widg3t",), ("purple pin",)], ["b"]
    )
    out = fuzzy_join_blocked(left, right, "a", "b", max_dist=2, block_len=4)
    got = {(r.a, r.b, r.distance) for r in out.collect()}
    assert ("blue bolt", "blu3 bolt", 1) in got
    assert ("red widget", "r3d widg3t", 2) in got
    assert all(d <= 2 for _, _, d in got)
    # no cross-entity matches
    assert not any(a == "green gear" for a, _, _ in got)


def test_fuzzy_join_block_recall_contract(spark):
    # same distance-1 pair but with differing consonant skeletons:
    # blocking (documented) excludes it
    left = spark.createDataFrame([("cat",)], ["a"])
    right = spark.createDataFrame([("bat",)], ["b"])
    out = fuzzy_join_blocked(left, right, "a", "b", max_dist=2, block_len=4)
    assert out.count() == 0


def test_fuzzy_join_no_cartesian(spark):
    left = spark.createDataFrame([("abc",)], ["a"])
    right = spark.createDataFrame([("abd",)], ["b"])
    out = fuzzy_join_blocked(left, right, "a", "b")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skeleton_key_strips_vowels_digits(spark):
    df = spark.createDataFrame([("Blu3 Bolt 99",)], ["s"])
    assert df.select(skeleton_key(F.col("s")).alias("k")).first().k == "blbl"


# ---------------------------------------------------------------------------
# perceptual hash + hamming near pairs
# ---------------------------------------------------------------------------


def test_phash_planted_pair_distances(spark):
    media = make_fake_media_pairs(spark, n=20, seed=7)
    sig = perceptual_hash(media, fake=True)
    rows = {r.media_id: r.phash64 for r in sig.collect()}
    for g in range(10):
        a, b = rows[2 * g], rows[2 * g + 1]
        expect = g % 5
        assert bin((a ^ b) & (2**64 - 1)).count("1") == expect, f"group {g}"


def test_hamming_near_pairs_on_phash_exact_vs_brute(spark):
    media = make_fake_media_pairs(spark, n=60, seed=11)
    sig = perceptual_hash(media, fake=True).cache()
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_near_pairs(
            sig, id_col="media_id", hash_col="phash64", max_hamming=3
        ).collect()
    }
    rows = {r.media_id: r.phash64 for r in sig.collect()}
    ids = sorted(rows)
    brute = {
        (i, j): bin((rows[i] ^ rows[j]) & (2**64 - 1)).count("1")
        for i in ids
        for j in ids
        if i < j and bin((rows[i] ^ rows[j]) & (2**64 - 1)).count("1") <= 3
    }
    assert got == brute
    sig.unpersist()


def test_perceptual_hash_real_kernel_rejects_non_image_bytes(spark):
    """fake media payloads are ASCII hex, not PNG/JPEG: the REAL kernel
    (codecs.phash64, wired in round 4) must fail loudly on them. Real
    JPEG/PNG coverage lives in tests/test_codecs.py."""
    media = make_fake_media_pairs(spark, n=4)
    with pytest.raises(Exception, match="unsupported image format"):
        perceptual_hash(media, fake=False).collect()


# ---------------------------------------------------------------------------
# sequence assembly
# ---------------------------------------------------------------------------


def test_assemble_orders_and_ties(spark):
    rows = [
        (1, 2, 10, "b"),
        (1, 1, 11, "a"),
        (1, 2, 9, "c"),   # same ts=2, smaller seq -> before "b"
        (2, 5, 1, "solo"),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "seq", "v"])
    out = assemble_sequences(df, ["k"], ["ts", "seq"], "v")
    got = {r.k: (r.sequence, r.n_items) for r in out.collect()}
    assert got[1] == ("a c b", 3)
    assert got[2] == ("solo", 1)


def test_assemble_truncates_keep_earliest(spark):
    rows = [(1, i, f"t{i}") for i in range(10)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = assemble_sequences(df, ["k"], ["ts"], "v", max_items=3)
    r = out.first()
    assert r.sequence == "t0 t1 t2" and r.n_items == 3


def test_assemble_no_window_no_sort_shuffle(spark):
    df = spark.createDataFrame([(1, 1, "a")], ["k", "ts", "v"])
    out = assemble_sequences(df, ["k"], ["ts"], "v")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # one aggregation shuffle at most, never a global sort
    assert "Exchange rangepartitioning" not in plan


# ---------------------------------------------------------------------------
# PSI drift / MAD outliers / embedding centroid drift
# ---------------------------------------------------------------------------


def test_psi_matches_hand_computation(spark):
    import math

    base = spark.createDataFrame([(v,) for v in [1, 1, 5, 5, 5, 9]], ["x"])
    cur = spark.createDataFrame([(v,) for v in [1, 5, 9, 9, 9, 9]], ["x"])
    from v3_polars_spark.ops import psi_drift

    rows = {
        r.bin: r
        for r in psi_drift(base, cur, "x", lo=0.0, hi=12.0, n_bins=3).collect()
    }
    assert [rows[b].n_base for b in range(3)] == [2, 3, 1]
    assert [rows[b].n_cur for b in range(3)] == [1, 1, 4]
    for b in range(3):
        pb, pc = rows[b].n_base / 6, rows[b].n_cur / 6
        assert abs(rows[b].psi_contrib - (pc - pb) * math.log(pc / pb)) < 1e-12
    total = sum(rows[b].psi_contrib for b in range(3))
    assert total > 0.25  # major shift, as planted


def test_psi_empty_bin_smoothing(spark):
    base = spark.createDataFrame([(1,), (1,)], ["x"])
    cur = spark.createDataFrame([(9,), (9,)], ["x"])
    from v3_polars_spark.ops import psi_drift

    rows = {r.bin: r for r in psi_drift(base, cur, "x", 0.0, 10.0, 2).collect()}
    # bin 1 empty in base: share floors at eps, contrib stays finite
    assert rows[1].pct_base == pytest.approx(1e-6)
    assert rows[1].psi_contrib == pytest.approx(
        (1.0 - 1e-6) * __import__("math").log(1.0 / 1e-6), rel=1e-9
    )


def test_mad_outliers_vs_numpy(spark):
    import numpy as np

    vals = [10, 12, 11, 13, 12, 11, 500]  # heavy outlier
    df = spark.createDataFrame([("g", v) for v in vals], ["grp", "x"])
    from v3_polars_spark.datapipe import mad_outliers

    got = {r.x: r for r in mad_outliers(df, "x", ["grp"]).collect()}
    med = float(np.median(vals))
    mad = float(np.median(np.abs(np.array(vals) - med)))
    assert got[500].group_median == med and got[500].group_mad == mad
    assert got[500].mad_z == pytest.approx(0.6745 * (500 - med) / mad)
    assert got[500].is_outlier and not got[10].is_outlier


def test_mad_robust_where_zscore_masked(spark):
    # one enormous value inflates std so much the plain z stays under 3,
    # while the median/MAD score flags it — the reason the op exists
    vals = [10, 11, 12, 11, 10, 12, 11, 1_000_000]
    df = spark.createDataFrame([("g", v) for v in vals], ["grp", "x"])
    from v3_polars_spark.datapipe import mad_outliers, zscore_outliers

    z = {r.x: r for r in zscore_outliers(df, "x", ["grp"], z=3.0).collect()}
    m = {r.x: r for r in mad_outliers(df, "x", ["grp"], z=3.5).collect()}
    assert not z[1_000_000].is_outlier
    assert m[1_000_000].is_outlier


def test_centroid_drift_vs_numpy(spark):
    import numpy as np

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (0, [1.0, 1.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (1, [0.0, 1.0, 1.0]),
        (2, [1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["label", "embedding"])
    from v3_polars_spark.datapipe import centroid_drift

    got = {(r.a, r.b): r for r in centroid_drift(df, "label").collect()}
    cents = {g: np.mean([np.array(v) for l, v in rows if l == g], axis=0) for g in (0, 1, 2)}

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    for (a, b), r in got.items():
        assert r.cosine == pytest.approx(cos(cents[a], cents[b]), abs=1e-9)
    assert got[(0, 2)].cosine == pytest.approx(cos(cents[0], cents[2]))
    assert got[(0, 1)].n_a == 2 and got[(0, 1)].n_b == 2


def test_tune_shuffle_partitions_scale_invariant(spark):
    from v3_polars_spark.session import tune_shuffle_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # bench-sized input: floors at the cache split width, 8 splits
        # capped at the core count
        floor = min(8, spark.sparkContext.defaultParallelism)
        assert tune_shuffle_partitions(spark, 40 * 1024 * 1024) == floor
        # 100 TB input: the same rule yields cluster-scale partition counts
        parts = tune_shuffle_partitions(spark, 100 * 1024**4)
        assert parts == (100 * 1024**4 * 4) // (64 * 1024 * 1024)
        assert parts > 1_000_000  # thousands of tasks per of 1000 executors
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(parts)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


# ---------------------------------------------------------------------------
# cogrouped applyInPandas (UDF-surface completion)
# ---------------------------------------------------------------------------


def test_cogrouped_asof_matches_native_asof_join(spark):
    """The cogroup escape hatch must agree with the production
    column-expression as-of join on identical inputs (including keys
    present on only one side)."""
    from v3_polars_spark.ops import asof_join, cogrouped_asof

    left = spark.createDataFrame(
        [(k, t, f"L{k}{t}") for k in (1, 2, 3) for t in (5, 10, 20)],
        ["k", "t", "tag"],
    )
    right = spark.createDataFrame(
        # key 3 absent; duplicate-free per (k, t)
        [(1, 4, 100.0), (1, 9, 101.0), (2, 15, 200.0)],
        ["k", "t", "px"],
    )
    via_cogroup = {
        (r.k, r.t): r.px
        for r in cogrouped_asof(left, right, on="t", by=["k"], value_cols=["px"]).collect()
    }
    via_native = {
        (r.k, r.t): r.px
        for r in asof_join(left, right, on="t", by=["k"]).collect()
    }
    assert via_cogroup == via_native
    assert via_cogroup[(1, 10)] == 101.0 and via_cogroup[(3, 20)] is None


def test_cogrouped_asof_requires_keys(spark):
    import pytest as _pytest

    from v3_polars_spark.ops import cogrouped_asof

    df = spark.createDataFrame([(1, 1)], ["k", "t"])
    with _pytest.raises(ValueError):
        cogrouped_asof(df, df, on="t", by=[], value_cols=[])


# ---------------------------------------------------------------------------
# data validation (expectations)
# ---------------------------------------------------------------------------


def test_dq_checks_planted_violations(spark):
    from v3_polars_spark.ops import (
        check_accepted_values,
        check_not_null,
        check_range,
        check_referential,
        check_unique,
        run_checks,
    )

    t = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", -5.0), (2, "X", 20.0), (4, None, 999.0)],
        ["id", "status", "amt"],
    )
    parent = spark.createDataFrame([(1,), (2,)], ["pid"])
    report = {
        r.rule: (r.n_checked, r.n_violations, r.passed)
        for r in run_checks(
            [
                check_not_null(t, "status"),          # 1 NULL
                check_unique(t, ["id"]),              # id=2 twice
                check_accepted_values(t, "status", ["A", "B"]),  # 'X'
                check_range(t, "amt", 0.0, 100.0),    # -5 and 999
                check_referential(t, "id", parent, "pid"),  # id=4 orphan
            ]
        ).collect()
    }
    assert report["not_null:status"] == (4, 1, False)
    assert report["unique:id"] == (4, 1, False)
    assert report["accepted_values:status"] == (4, 1, False)
    assert report["range:amt"] == (4, 2, False)
    assert report["referential:id"] == (4, 1, False)


def test_dq_checks_all_pass_and_null_key_semantics(spark):
    from v3_polars_spark.ops import check_referential, check_unique, run_checks

    t = spark.createDataFrame(
        [(1, None), (2, None), (3, 1)], ["id", "fk"]
    )
    parent = spark.createDataFrame([(1,), (2,)], ["pid"])
    report = {
        r.rule: r.passed
        for r in run_checks(
            [
                check_unique(t, ["id"]),
                # NULL child keys pass (SQL FK semantics)
                check_referential(t, "fk", parent, "pid"),
            ]
        ).collect()
    }
    assert report == {"unique:id": True, "referential:fk": True}


def test_dq_check_equality_is_identity_not_column(spark):
    """Comparing two Check specs answers a plain bool: field-wise equality
    would compare their aggregate Columns, which builds a Column instead."""
    from v3_polars_spark.ops import check_not_null

    t = spark.createDataFrame([(1, None)], "id int, status string")
    a, b = check_not_null(t, "status"), check_not_null(t, "status")
    assert (a == b) is False
    assert (a == a) is True


# ---------------------------------------------------------------------------
# keep-best near-dedup and best-match fuzzy resolution
# ---------------------------------------------------------------------------


def test_dedup_near_best_keeps_highest_score(spark):
    from v3_polars_spark.datapipe import dedup_near, dedup_near_best

    # two near-dup clusters (identical text => certain duplicates) plus a
    # singleton; scores favor NON-minimal ids
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", 10),
        (2, "the quick brown fox jumps over the lazy dog", 99),
        (3, "entirely different text about spark engines at scale", 5),
        (4, "pack my box with five dozen liquor jugs tonight", 50),
        (5, "pack my box with five dozen liquor jugs tonight", 50),  # tie
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "score"])
    best = {r.doc_id for r in dedup_near_best(df, "score").collect()}
    assert best == {2, 3, 4}  # highest score wins; score tie -> lower id
    first = {r.doc_id for r in dedup_near(df).collect()}
    assert first == {1, 3, 4}  # contrast: keep-min-id


def test_fuzzy_match_best_single_deterministic_match(spark):
    from v3_polars_spark.ops import fuzzy_match_best

    left = spark.createDataFrame([("blue bolt",)], ["a"])
    right = spark.createDataFrame(
        [("blu3 bolt",), ("blue bolts",), ("blae bolt",)], ["b"]
    )
    got = fuzzy_match_best(left, right, "a", "b", max_dist=2).collect()
    assert len(got) == 1
    # all three are distance 1; tie broken by right string ascending
    assert got[0].b == "blae bolt" and got[0].distance == 1
