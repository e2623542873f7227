"""Unit tests for the L1 operator library."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from v3_polars_spark.ops import (
    asof_join,
    asof_lookup_scalar,
    cumsum,
    cumsum_scalable,
    dedup_last,
    duration_to_interval,
    ffill,
    first_covering,
    lead_col,
    outer_join_coalesced,
    recode_map,
    resample,
    segment_bounds,
)


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, "a"), (5, "b"), (10, "c"), (0, "z")], ["t", "lv"]
    )
    right = spark.createDataFrame([(1, 100), (4, 400), (9, 900)], ["t", "rv"])
    out = {r["t"]: r["rv"] for r in asof_join(left, right, on="t").collect()}
    assert out == {0: None, 1: 100, 5: 400, 10: 900}


def test_asof_join_by_keys(spark):
    left = spark.createDataFrame([("p", 5), ("q", 5)], ["k", "t"])
    right = spark.createDataFrame([("p", 1, 10), ("q", 2, 20), ("q", 5, 21)], ["k", "t", "rv"])
    out = {(r["k"], r["t"]): r["rv"] for r in asof_join(left, right, on="t", by=["k"]).collect()}
    assert out == {("p", 5): 10, ("q", 5): 21}


def test_asof_lookup_strict(spark):
    df = spark.createDataFrame([(1.0, "a"), (2.0, "b"), (3.0, "c")], ["as_of", "v"])
    assert asof_lookup_scalar(df, "as_of", 2.0, "v") == "a"  # strict <
    assert asof_lookup_scalar(df, "as_of", 0.5, "v") is None


def test_dedup_last_deterministic(spark):
    df = spark.createDataFrame(
        [("k", 1, 0, "first"), ("k", 1, 1, "second"), ("k", 2, 0, "third")],
        ["key", "bn", "li", "v"],
    )
    out = dedup_last(df, keys=["key"], order=["bn", "li"]).collect()
    assert len(out) == 1 and out[0]["v"] == "third"


def test_cumsum_and_lead_and_ffill(spark):
    df = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], ["t", "v"])
    c = {r["t"]: r["cum"] for r in cumsum(df, "v", order=["t"], out="cum").collect()}
    assert c == {1: 10.0, 2: 30.0, 3: 60.0}
    l = {r["t"]: r["nxt"] for r in lead_col(df, "v", order=["t"], out="nxt", default=-1.0).collect()}
    assert l == {1: 20.0, 2: 30.0, 3: -1.0}
    df2 = spark.createDataFrame([(1, None), (2, 5.0), (3, None), (4, None)], "t int, v double")
    f = {r["t"]: r["v"] for r in ffill(df2, ["v"], order=["t"]).collect()}
    assert f == {1: None, 2: 5.0, 3: 5.0, 4: 5.0}


def test_cumsum_scalable_matches_window(spark):
    data = [(i, float((i * 7) % 13)) for i in range(1000)]
    df = spark.createDataFrame(data, ["t", "v"])
    a = {r["t"]: r["cum"] for r in cumsum(df, "v", order=["t"], out="cum").collect()}
    b = {r["t"]: r["cum"] for r in cumsum_scalable(df, "v", "t", out="cum", num_partitions=7).collect()}
    assert a == b


def test_first_covering(spark):
    df = spark.createDataFrame([(1, 10.0), (2, 30.0), (3, 60.0)], ["t", "cum"])
    row = first_covering(df, "cum", 25.0, order=["t"]).collect()
    assert len(row) == 1 and row[0]["t"] == 2


def test_outer_join_coalesced(spark):
    a = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["tick", "lo"])
    b = spark.createDataFrame([(2, 200.0), (3, 300.0)], ["tick", "hi"])
    out = {r["tick"]: (r["lo"], r["hi"]) for r in outer_join_coalesced(a, b, "tick", fill=0).collect()}
    assert out == {1: (10.0, 0.0), 2: (20.0, 200.0), 3: (0.0, 300.0)}


def test_recode_map(spark):
    df = spark.createDataFrame([("a",), ("b",), ("c",)], ["k"])
    out = {r["k"]: r["m"] for r in recode_map(df, "k", {"a": "A", "b": "B"}, out="m").collect()}
    assert out == {"a": "A", "b": "B", "c": None}


def test_resample_buckets(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(minutes=m), float(m)) for m in (0, 10, 20, 70)]
    df = spark.createDataFrame(rows, ["ts", "v"])
    out = {
        r["bucket_ts"]: r["s"]
        for r in resample(df, "ts", "1h", [F.sum("v").alias("s")]).collect()
    }
    assert out == {base: 30.0, base + dt.timedelta(hours=1): 70.0}
    assert duration_to_interval("15m") == "15 minutes"
    assert duration_to_interval("6h") == "6 hours"


def test_resample_weekly_monday_aligned_and_edges(spark):
    """Pin the batch fast path (integer floor-mod bucket key) on the
    cases the F.window formulation made implicit: weekly buckets align
    to MONDAY (Polars '1w' semantics, not the epoch Thursday), a NULL ts
    groups into a NULL bucket, and pre-1970 timestamps floor DOWNWARD
    (pmod, not truncation toward zero)."""
    rows = [
        (dt.datetime(2021, 5, 4, 12), 1.0),   # Tuesday -> Mon 2021-05-03
        (dt.datetime(2021, 5, 9, 23), 2.0),   # Sunday  -> same week
        (dt.datetime(2021, 5, 10, 0), 4.0),   # Monday  -> next week
        (None, 8.0),
    ]
    df = spark.createDataFrame(rows, ["ts", "v"])
    out = {
        r["bucket_ts"]: r["s"]
        for r in resample(df, "ts", "1w", [F.sum("v").alias("s")]).collect()
    }
    assert out == {
        dt.datetime(2021, 5, 3): 3.0,
        dt.datetime(2021, 5, 10): 4.0,
        None: 8.0,
    }
    pre = spark.createDataFrame(
        [(dt.datetime(1969, 12, 31, 23, 30), 1.0)], ["ts", "v"]
    )
    got = resample(pre, "ts", "1h", [F.sum("v").alias("s")]).collect()
    assert got[0]["bucket_ts"] == dt.datetime(1969, 12, 31, 23)


def test_segment_bounds(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], ["bn"])
    assert segment_bounds(df, "bn", 10) == 9


def test_asof_join_takes_matched_row_as_unit(spark):
    """join_asof semantics: the matched right ROW is taken whole — a null
    value in the matched row must NOT be backfilled from an earlier row
    (per-column fills would stitch together a row that never existed)."""
    from v3_polars_spark.ops import asof_join

    left = spark.createDataFrame([(3,)], ["t"])
    right = spark.createDataFrame(
        [(1, 100, None), (2, None, 5)], ["t", "price", "vol"]
    )
    row = asof_join(left, right, on="t", by=[]).first()
    assert row["price"] is None  # from the matched t=2 row, not t=1's 100
    assert row["vol"] == 5


def test_nfp_positions_theta_join(spark):
    """NFP->core matching: 4 equi keys AND nfp.log_index strictly above the
    core event's; equal log_index or any key mismatch drops the row."""
    from v3_polars_spark.v3 import nfp_positions

    nfp = spark.createDataFrame(
        [
            # (name, chain, hash, bn, tx_index, from, amount, a0, a1, tokenId, log_index)
            ("IncreaseLiquidity", "ethereum", "0xa", 10, 1, "u1", "5", "1", "2", "7", 3),
            ("IncreaseLiquidity", "ethereum", "0xa", 10, 1, "u1", "5", "1", "2", "8", 2),  # == core: drop
            ("DecreaseLiquidity", "ethereum", "0xb", 11, 2, "u2", "9", "1", "2", "9", 5),  # no core row: drop
        ],
        "name string, chain_name string, transaction_hash string, block_number long, "
        "tx_index long, from_address string, amount string, amount0 string, "
        "amount1 string, tokenId string, log_index long",
    )
    mb = spark.createDataFrame(
        [("0xa", "5", "1", "2", 2, "0xpool", -60, 60)],
        "transaction_hash string, amount string, amount0 string, amount1 string, "
        "log_index long, address string, tick_lower long, tick_upper long",
    )
    out = nfp_positions(nfp, mb).collect()
    assert len(out) == 1
    assert out[0]["tokenId"] == "7" and out[0]["address"] == "0xpool"
    assert out[0]["tick_lower"] == -60 and out[0]["tick_upper"] == 60


# ---------------------------------------------------------------------------
# session windows / range join / hypertable rollup
# ---------------------------------------------------------------------------


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_sessionize_gap_boundaries(spark):
    from v3_polars_spark.ops import sessionize

    rows = [
        # user 1: 29m gap (same session), then exactly 30m after the
        # second event — TOUCHING windows merge (inclusive boundary),
        # then 30m + 1µs after the third (strictly past the gap: new)
        (1, _ts("2024-01-01 00:00:00")),
        (1, _ts("2024-01-01 00:29:00")),
        (1, _ts("2024-01-01 00:59:00")),
        (1, _ts("2024-01-01 01:29:00.000001")),
        # user 2: single event
        (2, _ts("2024-01-01 12:00:00")),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = sessionize(df, "ts", "30m", by=["user_id"]).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2
    s1, s2 = sorted(by_user[1], key=lambda r: r["session_start"])
    assert s1["n_events"] == 3
    assert s1["session_start"] == _ts("2024-01-01 00:00:00")
    # end = last event + gap
    assert s1["session_end"] == _ts("2024-01-01 01:29:00")
    assert s2["n_events"] == 1
    assert len(by_user[2]) == 1 and by_user[2][0]["n_events"] == 1


def test_range_join_bounds_and_left(spark):
    from v3_polars_spark.ops import range_join

    pts = spark.createDataFrame(
        [(1, 0.0), (2, 99.9), (3, 100.0), (4, 250.0), (5, -5.0)], ["pid", "v"]
    )
    iv = spark.createDataFrame(
        [(10, 0.0, 100.0), (11, 100.0, 200.0), (12, 200.0, 200.0)],
        ["band", "lo", "hi"],
    )
    inner = range_join(pts, iv, "v", "lo", "hi", bucket_width=50.0)
    got = {(r["pid"], r["band"]) for r in inner.collect()}
    # closed-open: 100.0 joins band 11 not 10; empty interval 12 matches none
    assert got == {(1, 10), (2, 10), (3, 11)}
    left = range_join(pts, iv, "v", "lo", "hi", bucket_width=50.0, how="left")
    rows = {r["pid"]: r["band"] for r in left.collect()}
    assert rows[4] is None and rows[5] is None


def test_range_join_rejects_overlapping_columns(spark):
    from v3_polars_spark.ops import range_join

    df = spark.createDataFrame([(1, 2.0)], ["id", "v"])
    with pytest.raises(ValueError, match="overlapping"):
        range_join(df, df, "v", "id", "v", 1.0)


import pytest as _pytest


@_pytest.mark.parametrize("strategy", ["grouping_sets", "hierarchical"])
def test_hypertable_rollup_matches_direct_groupby(spark, strategy):
    from v3_polars_spark.ops import hypertable_rollup, resample

    rows = [
        (i, _ts("2024-01-01 00:00:00") + dt.timedelta(minutes=37 * i), float(i))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["id", "ts", "v"])
    out = hypertable_rollup(
        df,
        "ts",
        ["1h", "6h", "1d"],
        aggs={
            "n": (F.count(F.lit(1)), "sum"),
            "sv": (F.sum("v"), "sum"),
            "mx": (F.max("v"), "max"),
        },
        strategy=strategy,
    )
    got = {
        (r["resolution"], r["bucket_ts"]): (r["n"], r["sv"], r["mx"])
        for r in out.collect()
    }
    # every level equals an independent single-resolution resample
    for res in ["1h", "6h", "1d"]:
        direct = resample(
            df,
            "ts",
            res,
            [
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("sv"),
                F.max("v").alias("mx"),
            ],
        ).collect()
        for r in direct:
            assert got[(res, r["bucket_ts"])] == (r["n"], r["sv"], r["mx"])
    assert len(got) == sum(1 for k in got)  # no duplicate (resolution, bucket)


def test_hypertable_rollup_validates_hierarchy(spark):
    from v3_polars_spark.ops import hypertable_rollup

    df = spark.createDataFrame([(1, _ts("2024-01-01 00:00:00"), 1.0)], ["id", "ts", "v"])
    with pytest.raises(ValueError, match="multiple"):
        hypertable_rollup(df, "ts", ["1h", "4h", "6h"], aggs={"n": (F.count(F.lit(1)), "sum")})
    with pytest.raises(ValueError, match="fine-to-coarse"):
        hypertable_rollup(df, "ts", ["6h", "1h"], aggs={"n": (F.count(F.lit(1)), "sum")})


def test_asof_join_tiebreak_fuses_dedup(spark):
    """tiebreak picks the greatest-tiebreak right row at equal `on` —
    identical to dedup_last(keys=[on], order=tiebreak) then asof_join."""
    left = spark.createDataFrame([(5, "q")], ["t", "lv"])
    right = spark.createDataFrame(
        [(5, 1, 10), (5, 2, 20), (3, 7, 70), (3, 8, 80)], ["t", "seq", "rv"]
    )
    out = asof_join(left, right, on="t", tiebreak=["seq"]).collect()
    assert len(out) == 1
    assert out[0]["rv"] == 20  # max seq at t=5, not the t=3 rows
    assert "seq" not in out[0].asDict()


def test_asof_same_source_matches_generic(spark):
    """asof_join_same_source ≡ asof_join(filter(left), filter(right)) on a
    randomized single frame: shared timestamps across sides (the w2-
    override path), ties within a side (tiebreak), rows of NEITHER side,
    null right values (matched-row-as-unit), and null `on` rows."""
    import random

    from v3_polars_spark.ops import asof_join, asof_join_same_source

    rng = random.Random(7)
    rows = []
    for i in range(400):
        rows.append(
            (
                rng.randrange(5),                      # k
                rng.choice([None] + list(range(20))),  # t (nulls included)
                rng.choice(["L", "R", "X"]),           # side
                i,                                     # uid (tiebreak)
                rng.choice([None, float(i)]),          # v
            )
        )
    df = spark.createDataFrame(rows, ["k", "t", "side", "uid", "v"])
    fast = asof_join_same_source(
        df,
        left_filter=F.col("side") == "L",
        right_filter=F.col("side") == "R",
        on="t",
        by=["k"],
        values={"v": "rv"},
        tiebreak=["uid"],
    ).select("k", "t", "uid", "rv")
    left = df.filter(F.col("side") == "L").select("k", "t", "uid")
    right = df.filter(F.col("side") == "R").select(
        "k", "t", F.col("uid").alias("ruid"), F.col("v").alias("rv")
    )
    ref = asof_join(
        left, right, on="t", by=["k"], tiebreak=["ruid"]
    ).select("k", "t", "uid", "rv")

    def key(r):
        return (r["k"], r["t"], r["uid"], r["rv"])

    a = sorted(fast.collect(), key=lambda r: str(key(r)))
    b = sorted(ref.collect(), key=lambda r: str(key(r)))
    assert len(a) == len(b) > 0
    assert [key(r) for r in a] == [key(r) for r in b]


def test_asof_same_source_null_right_filter_sees_exact_match(spark):
    """A left row whose right_filter evaluates NULL is not a right row: it
    must still sort after the right rows at its own ``on`` and see the
    exact-timestamp match (a NULL side marker sorted it first)."""
    from v3_polars_spark.ops import asof_join_same_source

    df = spark.createDataFrame(
        [(0, 5, 0, None, None), (0, 5, 1, "R", 1.0), (0, 3, 2, "R", 0.5)],
        "k int, t int, uid int, side string, v double",
    )
    out = asof_join_same_source(
        df,
        left_filter=F.col("side").isNull(),
        right_filter=F.col("side") == "R",
        on="t",
        by=["k"],
        values={"v": "rv"},
        tiebreak=["uid"],
    )
    assert [(r["uid"], r["rv"]) for r in out.collect()] == [(0, 1.0)]


def test_asof_same_source_zero_exchanges_off_keyed_cache(spark):
    """Off a by-clustered source, the same-source plan needs NO exchange
    (the point of the formulation — the union form re-shuffled the whole
    frame); the one in-partition sort that remains has no Exchange
    feeding it."""
    from v3_polars_spark.ops import asof_join_same_source

    df = (
        spark.createDataFrame(
            [(i % 3, i // 3, i, "R" if i % 2 else "L", float(i)) for i in range(60)],
            ["k", "t", "uid", "side", "v"],
        )
        .repartition(4, F.col("k"))
        .sortWithinPartitions("k", "t", "uid")
        .cache()
    )
    df.count()
    out = asof_join_same_source(
        df,
        left_filter=F.col("side") == "L",
        right_filter=F.col("side") == "R",
        on="t",
        by=["k"],
        values={"v": "rv"},
        tiebreak=["uid"],
    )
    out.write.format("noop").mode("overwrite").save()
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    body = plan.split("InMemoryRelation")[0]  # query-time plan, not cache build
    assert "Exchange" not in body
    df.unpersist()


def test_range_join_timestamps(spark):
    """Timestamp validity-window join: bucket on µs epochs, width in
    seconds; exact bounds still closed-open."""
    from v3_polars_spark.ops import range_join

    pts = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:30:00")),
            (2, _ts("2024-01-01 02:00:00")),   # == hi of band 10: excluded
            (3, _ts("2024-01-01 02:00:00.000001")),
        ],
        ["pid", "t"],
    )
    iv = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 00:00:00"), _ts("2024-01-01 02:00:00")),
            (11, _ts("2024-01-01 02:00:00"), _ts("2024-01-01 04:00:00")),
        ],
        ["band", "lo", "hi"],
    )
    out = {(r["pid"], r["band"]) for r in
           range_join(pts, iv, "t", "lo", "hi", bucket_width=3600.0).collect()}
    assert out == {(1, 10), (2, 11), (3, 11)}


def test_asof_join_nearest(spark):
    """nearest: min |on_r - on_l|, equidistant prefers the backward match;
    emit_matched_on exposes the matched key."""
    left = spark.createDataFrame([(0,), (5,), (7,), (100,)], ["t"])
    right = spark.createDataFrame([(2, 20), (8, 80)], ["t", "rv"])
    out = {
        r["t"]: (r["rv"], r["m"])
        for r in asof_join(
            left, right, on="t", strategy="nearest", emit_matched_on="m"
        ).collect()
    }
    assert out[0] == (20, 2)     # only forward exists? no: 2 is forward of 0 -> nearest
    assert out[5] == (20, 2)     # equidistant (3 vs 3): backward wins
    assert out[7] == (80, 8)     # forward closer (1 vs 5)
    assert out[100] == (80, 8)   # only backward exists


def test_upsample_fills_gaps(spark):
    from v3_polars_spark.ops import upsample

    rows = [
        ("a", _ts("2024-01-01 00:00:00"), 1.0),
        ("a", _ts("2024-01-01 03:00:00"), 4.0),   # 01:00, 02:00 missing
        ("b", _ts("2024-01-01 05:00:00"), 9.0),   # singleton group
    ]
    df = spark.createDataFrame(rows, ["g", "bucket_ts", "v"])
    out = upsample(df, "bucket_ts", "1h", by=["g"], fill=["v"])
    got = {(r["g"], r["bucket_ts"]): r["v"] for r in out.collect()}
    assert got == {
        ("a", _ts("2024-01-01 00:00:00")): 1.0,
        ("a", _ts("2024-01-01 01:00:00")): 1.0,   # forward-filled
        ("a", _ts("2024-01-01 02:00:00")): 1.0,
        ("a", _ts("2024-01-01 03:00:00")): 4.0,
        ("b", _ts("2024-01-01 05:00:00")): 9.0,
    }
    # without fill, gap rows stay NULL
    sparse = upsample(df, "bucket_ts", "1h", by=["g"])
    nulls = [r for r in sparse.collect() if r["v"] is None]
    assert len(nulls) == 2


# -- merge upsert -----------------------------------------------------------


def test_merge_upsert_semantics(spark):
    from v3_polars_spark.ops import merge_upsert
    from pyspark.sql import functions as F

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
    )
    updates = spark.createDataFrame(
        [(2, "B", 22.0, False),   # matched -> update
         (4, "d", 40.0, False),   # unmatched -> insert
         (3, "x", 0.0, True)],    # matched + delete flag -> drop
        ["k", "s", "v", "del"],
    )
    out = {r.k: r for r in
           merge_upsert(target, updates, ["k"], delete_col="del").collect()}
    assert set(out) == {1, 2, 4}
    assert out[1].s == "a" and out[1].v == 10.0    # passthrough
    assert out[2].s == "B" and out[2].v == 22.0    # updated
    assert out[4].s == "d" and out[4].v == 40.0    # inserted


def test_merge_upsert_idempotent(spark):
    from v3_polars_spark.ops import merge_upsert

    target = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "v"])
    updates = spark.createDataFrame([(2, 21.0), (3, 30.0)], ["k", "v"])
    once = merge_upsert(target, updates, ["k"])
    twice = merge_upsert(once, updates, ["k"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_merge_upsert_rejects_schema_mismatch(spark):
    import pytest
    from v3_polars_spark.ops import merge_upsert

    target = spark.createDataFrame([(1, 10.0)], ["k", "v"])
    updates = spark.createDataFrame([(1, "x")], ["k", "other"])
    with pytest.raises(ValueError):
        merge_upsert(target, updates, ["k"])


# -- funnel -----------------------------------------------------------------


def test_funnel_ordering_and_ties(spark):
    from datetime import datetime as dt

    from v3_polars_spark.ops import funnel

    rows = [
        # u1: completes all three in order
        (1, dt(2024, 1, 1, 0), "view"), (1, dt(2024, 1, 1, 1), "click"),
        (1, dt(2024, 1, 1, 2), "purchase"),
        # u2: purchase BEFORE view/click -> only stage 2
        (2, dt(2024, 1, 1, 0), "purchase"), (2, dt(2024, 1, 1, 1), "view"),
        (2, dt(2024, 1, 1, 2), "click"),
        # u3: click at the SAME instant as view -> strict order, stage 1
        (3, dt(2024, 1, 1, 0), "view"), (3, dt(2024, 1, 1, 0), "click"),
        # u4: noise events only
        (4, dt(2024, 1, 1, 0), "error"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {r.user_id: r for r in funnel(
        df, ["view", "click", "purchase"], "ts", "event_type", by=["user_id"]
    ).collect()}
    assert out[1].stage == 3 and out[1].t_2 is not None
    assert out[2].stage == 2 and out[2].t_2 is None
    assert out[3].stage == 1 and out[3].t_1 is None
    assert 4 not in out  # no step events at all -> no row (filtered input)


def test_funnel_takes_earliest_valid_completion(spark):
    from datetime import datetime as dt

    from v3_polars_spark.ops import funnel

    rows = [
        (1, dt(2024, 1, 1, 0), "view"),
        (1, dt(2024, 1, 1, 1), "click"),
        (1, dt(2024, 1, 1, 5), "click"),   # later click must not win
        (1, dt(2024, 1, 1, 6), "purchase"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    r = funnel(df, ["view", "click", "purchase"], "ts", "event_type",
               by=["user_id"]).collect()[0]
    assert r.t_1 == int(dt(2024, 1, 1, 1).timestamp() * 1_000_000)


def test_funnel_single_shuffle(spark):
    from v3_polars_spark.ops import funnel
    from v3_polars_spark.plans import count_exchanges

    df = spark.createDataFrame(
        [(1, __import__("datetime").datetime(2024, 1, 1), "view")],
        ["user_id", "ts", "event_type"],
    )
    out = funnel(df, ["view", "click"], "ts", "event_type", by=["user_id"])
    assert count_exchanges(out) == 1


# -- cohort retention -------------------------------------------------------


def test_retention_matrix_hand_case(spark):
    from datetime import datetime as dt

    from v3_polars_spark.ops import retention_matrix

    W = 7  # days per week
    def day(n):
        return dt(2024, 1, 4 + n)  # 2024-01-04 is a Thursday = epoch-week boundary

    rows = [
        # u1 joins week 0, active weeks 0,1,2 ; u2 joins week 0, active 0,2
        (1, day(0)), (1, day(W)), (1, day(2 * W)),
        (2, day(1)), (2, day(2 * W + 1)),
        # u3 joins week 1 only
        (3, day(W + 2)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    cells = {(r.cohort, r.offset): r.n_active
             for r in retention_matrix(df, "ts", "user_id").collect()}
    cohorts = sorted({c for c, _ in cells})
    w0, w1 = cohorts[0], cohorts[0] + 1
    assert cells[(w0, 0)] == 2      # u1, u2
    assert cells[(w0, 1)] == 1      # u1 only
    assert cells[(w0, 2)] == 2      # u1, u2
    assert cells[(w1, 0)] == 1      # u3
    assert (w1, 1) not in cells


def test_retention_every_key_in_offset_zero(spark, sf_dir):
    from v3_polars_spark.ops import retention_matrix

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    m = retention_matrix(ev, "ts", "user_id")
    total_joiners = m.filter("offset = 0").agg({"n_active": "sum"}).first()[0]
    assert total_joiners == ev.select("user_id").distinct().count()


def test_retention_rejects_unknown_period(spark, sf_dir):
    import pytest

    from v3_polars_spark.ops import retention_matrix

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    with pytest.raises(ValueError):
        retention_matrix(ev, "ts", "user_id", period="month")


# -- table profiling --------------------------------------------------------


def test_profile_table_values(spark):
    from v3_polars_spark.ops import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")], ["k", "s"]
    )
    p = {r.column: r for r in profile_table(df).collect()}
    assert p["k"].n_rows == 4 and p["k"].n_nulls == 1 and p["k"].n_distinct == 3
    assert p["s"].n_nulls == 1 and p["s"].n_distinct == 2
    assert p["s"].min_str == "a" and p["s"].max_str == "b"


def test_profile_table_single_scan(spark, sf_dir):
    from v3_polars_spark.ops import profile_table
    from v3_polars_spark.plans import explain_str

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = explain_str(profile_table(o, ["o_orderkey", "o_orderstatus"]))
    # one scan node (the formatted plan lists each scan's Location once)
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_profile_table_approx_mode(spark, sf_dir):
    from v3_polars_spark.ops import profile_table

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exact = {r.column: r.n_distinct
             for r in profile_table(o, ["o_orderkey"]).collect()}
    approx = {r.column: r.n_distinct
              for r in profile_table(o, ["o_orderkey"], approx=True).collect()}
    assert abs(approx["o_orderkey"] - exact["o_orderkey"]) <= 0.1 * exact["o_orderkey"]


# -- table diff -------------------------------------------------------------


def test_diff_tables_statuses(spark):
    from v3_polars_spark.ops import diff_tables

    left = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None)], ["k", "s", "v"]
    )
    right = spark.createDataFrame(
        [(1, "a", 1.0),      # unchanged
         (2, "B", 2.0),      # changed
         (4, "d", 4.0)],     # added   (3 removed)
        ["k", "s", "v"],
    )
    out = {r.k: r.status for r in diff_tables(left, right, ["k"]).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_diff_tables_null_vs_empty_distinct(spark):
    from v3_polars_spark.ops import diff_tables

    left = spark.createDataFrame([(1, None)], "k: long, s: string")
    right = spark.createDataFrame([(1, "")], "k: long, s: string")
    out = diff_tables(left, right, ["k"]).collect()
    assert out[0].status == "changed"  # NULL != ''


def test_diff_tables_rejects_missing_columns(spark):
    import pytest

    from v3_polars_spark.ops import diff_tables

    left = spark.createDataFrame([(1, "a")], ["k", "s"])
    right = spark.createDataFrame([(1,)], ["k"])
    with pytest.raises(ValueError):
        diff_tables(left, right, ["k"])


# -- time-weighted average --------------------------------------------------


def test_time_weighted_avg_hand_case(spark):
    from v3_polars_spark.ops import time_weighted_avg

    base = dt.datetime(2024, 1, 1)
    rows = [
        # value 10 held 1h, then 20 held 3h -> twa = (10*1 + 20*3)/4 = 17.5
        (1, base, 10.0),
        (1, base + dt.timedelta(hours=1), 20.0),
        (1, base + dt.timedelta(hours=4), 99.0),  # last value: zero weight
        (2, base, 5.0),                           # singleton -> NULL
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = {r.k: r for r in time_weighted_avg(df, "ts", "v", by=["k"]).collect()}
    assert abs(out[1].twa - 17.5) < 1e-12
    assert out[1].total_duration_us == 4 * 3600 * 1_000_000
    assert out[2].twa is None and out[2].n_obs == 1


def test_time_weighted_avg_constant_value(spark):
    from v3_polars_spark.ops import time_weighted_avg

    base = dt.datetime(2024, 1, 1)
    rows = [(1, base + dt.timedelta(minutes=m), 7.25) for m in (0, 13, 14, 200)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = time_weighted_avg(df, "ts", "v", by=["k"]).collect()[0]
    assert out.twa == 7.25


# -- as-of tolerance --------------------------------------------------------


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame([(10,), (50,)], ["t"])
    right = spark.createDataFrame([(8, "a"), (20, "b")], ["t", "v"])
    # backward: t=10 matches t=8 (dist 2), t=50 matches t=20 (dist 30)
    out = {r.t: r.v for r in
           asof_join(left, right, on="t", tolerance=5).collect()}
    assert out == {10: "a", 50: None}
    # forward: t=10 -> t=20 (dist 10) only within tolerance 15
    outf = {r.t: r.v for r in
            asof_join(left, right, on="t", strategy="forward",
                      tolerance=15).collect()}
    assert outf == {10: "b", 50: None}
    # nearest: t=50 nearest is 20 at dist 30 — beyond 10, null
    outn = {r.t: r.v for r in
            asof_join(left, right, on="t", strategy="nearest",
                      tolerance=10).collect()}
    assert outn == {10: "a", 50: None}


def test_asof_join_tolerance_emits_matched_on(spark):
    left = spark.createDataFrame([(10,), (50,)], ["t"])
    right = spark.createDataFrame([(8, "a")], ["t", "v"])
    out = {r.t: (r.v, r.m) for r in asof_join(
        left, right, on="t", tolerance=5, emit_matched_on="m").collect()}
    assert out == {10: ("a", 8), 50: (None, None)}
