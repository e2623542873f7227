"""Golden-data parity tests against the reference's own example parquet
(/root/reference/v3/data/examples, read-only) using the independently
cross-checked anchor values from SURVEY.md §8.3."""

import os

import pytest
from pyspark.sql import functions as F

POOL = "0x1d42064fc4beb5f8aaf85f4617ae8b3b5b8bd801"  # UNI/WETH 30bps, ethereum
AS_OF = 12376626


@pytest.fixture(scope="module")
def pool(spark, ref_examples):
    from v3_polars_spark.v3 import Pool

    return Pool(spark, POOL, "ethereum", ref_examples)


def test_factory_init(pool):
    assert pool.ts == 60
    assert pool.fee == 3000
    # UNI < WETH lexicographically; token0 is UNI
    assert pool.token0.startswith("0x1f9840a85d5af5bf1d1762f925bdaddc4201f984")


def test_create_liq_golden(pool):
    rows = pool.create_liq(AS_OF).orderBy("tick").collect()
    assert len(rows) == 123
    assert rows[0]["tick"] == -127620
    assert rows[0]["liquidity"] == pytest.approx(2.1615743339306317e20, rel=1e-9)
    assert rows[-1]["tick"] == 82920
    # telescopes to ~0 at the top tick (SURVEY.md §8.2)
    assert abs(rows[-1]["liquidity"]) < 1e7


def test_price_and_tick_at(pool):
    price = pool.get_price_at(AS_OF)
    assert price == pytest.approx(8.781412307951676e27, rel=1e-12)
    from v3_polars_spark.v3 import swap_math as sm

    assert sm.price_x96_to_tick_floor(price, pool.ts) == -44040


def test_in_range_values(pool):
    _, irv = pool.calc_swap_df(AS_OF)
    assert irv.tick == -44040
    assert irv.liquidity == pytest.approx(5.653338537120413e22, rel=1e-9)
    assert irv.in_range0 == pytest.approx(1.1209794725495329e21, rel=1e-9)
    assert irv.in_range_to_swap0 == pytest.approx(1.3740856632652128e19, rel=1e-9)
    assert irv.in_range1 == pytest.approx(5.043116974048383e18, rel=1e-9)
    assert irv.in_range_to_swap1 == pytest.approx(4.101852834902314e20, rel=1e-9)


def test_swap_in_branch_a(pool):
    amt_out, (sqrt_last, _, _) = pool.swap_in(
        {"as_of": AS_OF, "tokenIn": pool.token0, "swapIn": 1000 * 1e18}
    )
    assert amt_out == pytest.approx(1.2224093177787754e19, rel=1e-9)
    assert sqrt_last == pytest.approx(0.11062077793366244, rel=1e-9)


def test_swap_in_branch_b(pool):
    amt_out, (sqrt_last, _, fee_dict) = pool.swap_in(
        {"as_of": AS_OF, "tokenIn": pool.token0, "swapIn": 100_000 * 1e18, "fees": True}
    )
    assert amt_out == pytest.approx(4.8870532436015913e20, rel=1e-9)
    # crosses 48 full ticks + in-range + final covering tick => 50 fee entries
    assert len(fee_dict) == 50
    assert min(fee_dict) == -127620


def test_price_series_shapes(pool):
    import datetime as dt

    px = pool.get_price_series(dt.datetime(2021, 5, 4), frequency="6h").orderBy(
        "block_timestamp"
    )
    rows = px.collect()
    assert rows, "price series empty"
    assert set(px.columns) == {"block_timestamp", "block_number", "tick"}
    # block numbers nondecreasing across buckets
    bns = [r["block_number"] for r in rows]
    assert bns == sorted(bns)


def test_bn_at_date(pool):
    import datetime as dt

    bn = pool.get_bn_at_date(dt.datetime(2021, 5, 4))
    assert bn is not None and bn <= 12376625


def test_quote_ladder_matches_scalar_swap_in(pool, spark):
    """Batched quotes must be bit-identical to looping swap_in — both
    branches, both directions, including an insufficient-depth amount."""
    as_of = 12376626
    amounts = [1e18, 1e21, 1e22, 1e23, 5e23]  # branch A -> deep branch B
    adf = spark.createDataFrame(
        [(i, a) for i, a in enumerate(amounts)], ["quote_id", "amount_in"]
    )
    for token_in in (pool.token0, pool.token1):
        got = {
            r["quote_id"]: r
            for r in pool.quote_ladder(as_of, token_in, adf).collect()
        }
        for i, a in enumerate(amounts):
            r = got[i]
            try:
                want_out, (want_spl, _, _) = pool.swap_in(
                    {"as_of": as_of, "tokenIn": token_in, "swapIn": a}
                )
            except AssertionError:
                assert not r["sufficient"], (token_in, a)
                assert r["amt_out"] is None
                continue
            assert r["sufficient"], (token_in, a)
            assert r["amt_out"] == want_out, (token_in, a, r["amt_out"], want_out)
            assert r["sqrt_price_last"] == want_spl


@pytest.mark.parametrize("wide_threshold", [64, 0])  # fused plan / grid plan
def test_liquidity_timeline_matches_per_frame_distribution(
    pool, spark, wide_threshold, monkeypatch
):
    """One-plan multi-frame timeline == looping liquidity_distribution per
    frame (the notebook's slice-iteration workload, SURVEY §7.4). Both
    physical plans — the 2-exchange fused conditional-sum plan and the
    many-frame grid plan — must agree with the per-frame loop."""
    from v3_polars_spark.v3 import liquidity, liquidity_distribution, liquidity_timeline

    monkeypatch.setattr(liquidity, "WIDE_THRESHOLD", wide_threshold)
    frames = [12372000.0, 12374000.0, 12376626.0]
    tl = liquidity_timeline(pool.mb, frames)
    got = {
        (r["frame_as_of"], r["tick"]): r["liquidity"] for r in tl.collect()
    }
    for f in frames:
        want = {
            r["tick"]: r["liquidity"]
            for r in liquidity_distribution(pool.mb, as_of=f).collect()
        }
        for tick, liq in want.items():
            assert got[(f, tick)] == pytest.approx(liq, rel=1e-9, abs=1e-3), (
                f, tick, got[(f, tick)], liq,
            )


def test_liquidity_timeline_empty_frames(pool):
    """Zero frames -> empty frame with the contract schema (the fused
    plan must not build a zero-aggregate groupBy)."""
    from v3_polars_spark.v3 import liquidity_timeline

    out = liquidity_timeline(pool.mb, [])
    assert out.columns == ["frame_as_of", "tick", "liquidity"]
    assert out.count() == 0


def test_price_series_gas_branch(pool):
    """gas=True adds median gas columns, forward-filled across sparse
    buckets (reference pool_helpers.py:168-180)."""
    import datetime

    out = pool.get_price_series(
        datetime.datetime(2021, 5, 4), "6h", gas=True
    ).collect()
    assert {"block_number", "block_timestamp", "tick", "gas_price", "gas_used"} <= set(
        out[0].asDict().keys()
    )
    # after the pool's first trade, ffill keeps gas non-null
    seen_value = False
    for r in out:
        if r["gas_price"] is not None:
            seen_value = True
        elif seen_value:
            raise AssertionError("gas_price went back to NULL after ffill")
    assert seen_value


def test_inline_assert_parity(spark, pool, ref_examples):
    """The reference's inline runtime checks (SURVEY §5): missing factory
    row, zero swap, insufficient depth."""
    from v3_polars_spark.v3 import Pool

    with pytest.raises(AssertionError, match="missing from factory"):
        Pool(spark, "0x" + "00" * 20, "ethereum", ref_examples)
    with pytest.raises(AssertionError, match="swaps of 0"):
        pool.swap_in({"as_of": 12376626, "tokenIn": pool.token0, "swapIn": 0})
    with pytest.raises(AssertionError, match="Not enough liquidity"):
        pool.swap_in({"as_of": 12376626, "tokenIn": pool.token0, "swapIn": 1e35})


def test_sql_surface_matches_dataframe_path(spark, pool, ref_examples):
    """register_tables exposes the engine through spark.sql: the SQL form
    of createLiq must equal the DataFrame builder's result."""
    from v3_polars_spark.sql import register_tables

    names = register_tables(spark, ref_examples, suffix="_sqltest")
    assert "mint_burns_sqltest" in names
    got = spark.sql(
        f"""
        SELECT tick, SUM(delta) OVER (ORDER BY tick
                                      ROWS UNBOUNDED PRECEDING) AS liquidity
        FROM (
            SELECT COALESCE(tl.tick, tu.tick) AS tick,
                   COALESCE(l, 0) + COALESCE(u, 0) AS delta
            FROM (
                SELECT tick_lower AS tick, SUM(amount * type_of_event) AS l
                FROM mint_burns_sqltest
                WHERE chain_name = 'ethereum' AND address = '{pool.pool}'
                  AND as_of < 12376626.0
                GROUP BY 1 HAVING SUM(amount * type_of_event) != 0
            ) tl
            FULL OUTER JOIN (
                SELECT tick_upper AS tick, SUM(-(amount * type_of_event)) AS u
                FROM mint_burns_sqltest
                WHERE chain_name = 'ethereum' AND address = '{pool.pool}'
                  AND as_of < 12376626.0
                GROUP BY 1 HAVING SUM(-(amount * type_of_event)) != 0
            ) tu USING (tick)
        )
        """
    ).collect()
    want = {r["tick"]: r["liquidity"] for r in pool.create_liq(12376626).collect()}
    assert len(got) == len(want) == 123
    for r in got:
        assert r["liquidity"] == pytest.approx(want[r["tick"]], rel=1e-12, abs=1e-6)


def test_quote_ladder_multi_matches_per_pool_scalar(spark, ref_examples):
    """quote_ladder_multi prices many pools in one plan; every quote must
    bit-match the per-pool scalar swap_in (or be flagged insufficient
    where the scalar path asserts)."""
    from v3_polars_spark import tables as T
    from v3_polars_spark.v3 import Pool
    from v3_polars_spark.v3.swap import quote_ladder_multi

    as_of = 12376626.0
    mb = T.with_as_of(
        T.read_table(spark, ref_examples, "pool_mint_burn_events").withColumns(
            {
                "amount": F.col("amount").cast("double"),
                "tick_lower": F.col("tick_lower").cast("long"),
                "tick_upper": F.col("tick_upper").cast("long"),
                "type_of_event": F.col("type_of_event").cast("double"),
            }
        )
    ).filter(F.col("chain_name") == "ethereum")
    swaps = T.with_as_of(T.read_table(spark, ref_examples, "pool_swap_events")).filter(
        F.col("chain_name") == "ethereum"
    )
    factory = (
        T.read_table(spark, ref_examples, "factory_pool_created")
        .filter(F.col("chain_name") == "ethereum")
        .withColumnRenamed("pool", "address")
    )

    # pools with both price history and mint/burns before as_of
    candidates = [
        r["address"]
        for r in (
            swaps.filter(F.col("as_of") < as_of)
            .select("address")
            .intersect(mb.filter(F.col("as_of") < as_of).select("address"))
            .orderBy("address")
            .limit(6)
            .collect()
        )
    ]
    assert len(candidates) >= 3

    amounts = [1e18, 1e22]
    rows = [
        ("ethereum", p, i * len(amounts) + j, a)
        for i, p in enumerate(candidates)
        for j, a in enumerate(amounts)
    ]
    # a pool that exists nowhere: must come back sufficient=false, not
    # silently vanish through the irv join
    rows.append(("ethereum", "0x" + "00" * 20, 10_000, 1e18))
    adf = spark.createDataFrame(
        rows, ["chain_name", "address", "quote_id", "amount_in"]
    )
    out = {
        r["quote_id"]: r
        for r in quote_ladder_multi(
            mb, swaps, factory, adf, as_of, zero_for_one=True
        ).collect()
    }

    assert len(out) == len(rows)  # every input row comes back
    ghost = out[10_000]
    assert not ghost["sufficient"] and ghost["amt_out"] is None

    checked = 0
    for _, addr, qid, a in rows:
        try:
            pool = Pool(spark, addr, "ethereum", ref_examples, pull=False)
            want, (wspl, _, _) = pool.swap_in(
                {"as_of": as_of, "tokenIn": pool.token0, "swapIn": a}
            )
        except AssertionError:
            # insufficient depth: multi path flags instead of asserting
            if qid in out:
                assert not out[qid]["sufficient"], (addr, a)
            continue
        except ValueError:
            continue  # no unambiguous in-range tick: multi path drops the pool
        assert qid in out, (addr, a)
        r = out[qid]
        assert r["amt_out"] == want, (addr, a, r["amt_out"], want)
        assert r["sqrt_price_last"] == wspl, (addr, a)
        checked += 1
    assert checked >= 4  # several pools actually compared bit-exactly


def test_quote_ladder_fees_match_scalar_fee_dict(pool, spark):
    """fees=True parity: the batched per-tick fee array must carry the
    identical (tick, fee, liquidity) entries as the scalar path's
    fee_dict — branch A (single in-range entry) and deep branch B
    (in-range + every crossed tick + partial covering tick)."""
    as_of = 12376626
    amounts = [1e18, 1e21, 1e23]  # A, shallow B, deep B
    adf = spark.createDataFrame(
        [(i, a) for i, a in enumerate(amounts)], ["quote_id", "amount_in"]
    )
    for token_in in (pool.token0, pool.token1):
        got = {
            r["quote_id"]: r
            for r in pool.quote_ladder(as_of, token_in, adf, fees=True).collect()
        }
        for i, a in enumerate(amounts):
            _, (_, _, fee_dict) = pool.swap_in(
                {"as_of": as_of, "tokenIn": token_in, "swapIn": a, "fees": True}
            )
            have = {e["tick"]: (e["fee"], e["liquidity"]) for e in got[i]["fees"]}
            assert have == fee_dict, (token_in, a)


def test_quote_ladder_multi_fees(spark, ref_examples):
    """fees=True on the many-pool path: per-pool fee arrays match the
    scalar fee_dict through the same harness as the amt_out parity test."""
    import math

    from v3_polars_spark.v3 import Pool
    from v3_polars_spark.v3.swap import quote_ladder_multi
    from v3_polars_spark import tables as T

    pool = Pool(
        spark,
        "0x1d42064FC4Beb5F8aAF85F4617AE8b3b5B8Bd801",
        "ethereum",
        ref_examples,
    )
    as_of = 12376626.0
    mb = T.with_as_of(
        T.read_table(spark, ref_examples, "pool_mint_burn_events")
    ).withColumns(
        {
            "amount": F.col("amount").cast("double"),
            "tick_lower": F.col("tick_lower").cast("long"),
            "tick_upper": F.col("tick_upper").cast("long"),
            "type_of_event": F.col("type_of_event").cast("double"),
        }
    )
    swaps = T.with_as_of(
        T.read_table(spark, ref_examples, "pool_swap_events")
    )
    factory = T.read_table(
        spark, ref_examples, "factory_pool_created"
    ).withColumnRenamed("pool", "address")
    amounts = spark.createDataFrame(
        [("ethereum", pool.pool, i, a) for i, a in enumerate([1e21, 1e22, 1e23])],
        ["chain_name", "address", "quote_id", "amount_in"],
    )
    rows = quote_ladder_multi(
        mb, swaps, factory, amounts, as_of, zero_for_one=True, fees=True
    ).collect()
    for r in rows:
        a = [1e21, 1e22, 1e23][r["quote_id"]]
        _, (_, _, fee_dict) = pool.swap_in(
            {"as_of": as_of, "tokenIn": pool.token0, "swapIn": a, "fees": True}
        )
        have = {e["tick"]: (e["fee"], e["liquidity"]) for e in r["fees"]}
        assert set(have) == set(fee_dict), a
        for t in fee_dict:
            wf, wl = fee_dict[t]
            hf, hl = have[t]
            assert hl == wl
            assert math.isclose(hf, wf, rel_tol=1e-12), (t, hf, wf)


def test_tick_to_price_and_price_frames(pool, spark):
    """Notebook cell-12 parity: price = 1.0001^tick * decimal_adjustment,
    and the frame pipeline ends in price space with per-frame max-norm."""
    import math

    from v3_polars_spark.v3 import liquidity_price_frames, tick_to_price

    df = spark.createDataFrame([(0,), (-204079,), (887272,)], ["tick"])
    got = {
        r["tick"]: r["p"]
        for r in df.select("tick", tick_to_price(F.col("tick"), 1e12).alias("p")).collect()
    }
    assert got[0] == 1e12
    assert got[-204079] == pytest.approx(1.0001**-204079 * 1e12, rel=1e-12)
    inv = df.select(
        tick_to_price(F.lit(100), 1e12, invert=True).alias("p")
    ).first()["p"]
    assert inv == pytest.approx(1.0 / (1.0001**100 * 1e12), rel=1e-12)

    frames = [12374000.0, 12376626.0]
    out = liquidity_price_frames(pool.mb, frames, decimal_adjustment=1e12).collect()
    assert {r["frame_as_of"] for r in out} == set(frames)
    for f in frames:
        rows = [r for r in out if r["frame_as_of"] == f]
        top = max(r["liquidity_norm"] for r in rows)
        assert top == pytest.approx(1.0)
        for r in rows:
            assert r["price"] == pytest.approx(1.0001 ** r["tick"] * 1e12, rel=1e-9)


def test_tick_twap_matches_bruteforce(spark, ref_examples):
    """Oracle-semantics TWAP over the golden swap history equals the
    sequential hold-until-next integration of the same deduped series."""
    import datetime as dtm

    from v3_polars_spark import tables as T
    from v3_polars_spark.v3 import tick_twap

    swaps = T.tenant_filter(
        T.read_table(spark, ref_examples, "pool_swap_events"),
        "ethereum",
        "0x1d42064FC4Beb5F8aAF85F4617AE8b3b5B8Bd801",
    )
    start, end = dtm.datetime(2021, 5, 5), dtm.datetime(2021, 5, 6)
    row = tick_twap(swaps, start, end).collect()[0]

    rows = (
        swaps.filter(
            (F.col("block_timestamp") >= F.lit(start))
            & (F.col("block_timestamp") < F.lit(end))
        )
        .select("block_timestamp", "tick", "block_number",
                "transaction_index", "log_index")
        .collect()
    )
    last = {}
    for r in rows:  # dedup to last per timestamp (tiebreak order)
        k = r.block_timestamp
        o = (r.block_number, r.transaction_index, r.log_index)
        if k not in last or o > last[k][0]:
            last[k] = (o, int(r.tick))
    series = sorted((ts, tick) for ts, (_, tick) in last.items())
    assert len(series) > 2
    total = (series[-1][0] - series[0][0]).total_seconds()
    wsum = sum(
        (t2 - t1).total_seconds() * tick1
        for (t1, tick1), (t2, _) in zip(series, series[1:])
    )
    assert abs(row.avg_tick - wsum / total) < 1e-9
    assert abs(row.twap_price - 1.0001 ** row.avg_tick) < 1e-12
    assert row.n_swaps == len(series)


def test_revert_on_uninitialized(pool):
    """reference state.py:216-244: before the pool's first swap the
    point-in-time getters return None, or raise when the parity flag is
    set (UninitializedPoolError subclasses AssertionError to match the
    reference's bare assert)."""
    from v3_polars_spark.v3.pool import UninitializedPoolError

    early = 0  # far before the first landed swap
    assert pool.get_tick_at(early) is None
    assert pool.get_price_at(early) is None
    with pytest.raises(UninitializedPoolError, match="Tick is not initialized"):
        pool.get_tick_at(early, revert_on_uninitialized=True)
    with pytest.raises(UninitializedPoolError, match="Price is not initialized"):
        pool.get_price_at(early, revert_on_uninitialized=True)
    # initialized as_of unaffected by the flag (raw event tick, not the
    # spacing-floored -44040 from price_x96_to_tick_floor)
    assert pool.get_tick_at(AS_OF, revert_on_uninitialized=True) == -43997


def test_save_path_roundtrip(spark, ref_examples, tmp_path):
    """readFromMemoryOrDisk(save=True) analog: first init persists the
    preprocessed frames under save_path, second init reads them back
    (identical golden results) without touching the raw tables."""
    import os

    from v3_polars_spark.v3 import Pool

    sp = str(tmp_path / "pool_state")
    p1 = Pool(spark, POOL, "ethereum", ref_examples, save_path=sp)
    assert p1.create_liq(AS_OF).count() == 123
    # namespaced by (chain, pool): two pools sharing a save_path must
    # never serve each other's tenant-filtered frames
    base = os.path.join(sp, "ethereum", POOL)
    assert os.path.exists(os.path.join(base, "pool_swap_events", "_SUCCESS"))
    assert os.path.exists(os.path.join(base, "pool_mint_burn_events", "_SUCCESS"))

    p2 = Pool(spark, POOL, "ethereum", ref_examples, save_path=sp)
    rows = p2.create_liq(AS_OF).orderBy("tick").collect()
    assert len(rows) == 123
    assert rows[0]["tick"] == -127620
    assert p2.get_price_at(AS_OF) == pytest.approx(8.781412307951676e27, rel=1e-12)


def test_save_path_staleness_rebuild(spark, ref_examples, tmp_path):
    """ADVICE round-4: a persisted save_path frame must not serve stale
    state forever. Appending new events to the raw table changes the
    source-directory fingerprint, so the next Pool init rebuilds the
    cache and sees the new rows; an untouched source keeps serving the
    save (same fingerprint)."""
    import shutil

    from pyspark.sql import functions as F

    from v3_polars_spark import fsutil
    from v3_polars_spark.v3 import Pool

    data = str(tmp_path / "data")
    for t in ("factory_pool_created", "pool_swap_events", "pool_mint_burn_events"):
        shutil.copytree(os.path.join(ref_examples, t), os.path.join(data, t))
    sp = str(tmp_path / "pool_state")

    p1 = Pool(spark, POOL, "ethereum", data, save_path=sp)
    n1 = p1.swaps.count()
    fp1 = fsutil.dir_fingerprint(spark, os.path.join(data, "pool_swap_events"))

    # untouched source: same fingerprint, cache served as-is
    assert fsutil.dir_fingerprint(
        spark, os.path.join(data, "pool_swap_events")
    ) == fp1

    # append one synthetic swap (copy of the latest row, bumped block)
    raw = spark.read.parquet(os.path.join(data, "pool_swap_events"))
    extra = (
        raw.filter(F.col("address") == POOL)  # must hit THIS tenant's filter
        .orderBy(F.col("block_number").desc())
        .limit(1)
        .withColumn("block_number", F.col("block_number") + 1)
    )
    extra.write.mode("append").parquet(os.path.join(data, "pool_swap_events"))
    assert (
        fsutil.dir_fingerprint(spark, os.path.join(data, "pool_swap_events")) != fp1
    )

    p2 = Pool(spark, POOL, "ethereum", data, save_path=sp)
    assert p2.swaps.count() == n1 + 1  # rebuilt, not the stale save

    # refresh=True forces a rebuild even with an unchanged source
    p3 = Pool(spark, POOL, "ethereum", data, save_path=sp, refresh=True)
    assert p3.swaps.count() == n1 + 1
