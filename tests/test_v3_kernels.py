"""The v3 column kernels on generated pools: no reference example data needed.

A seeded multi-pool dataset from ``perfbench/gen_pool.py`` (loaded read-only)
stands in for the reference examples. Its mint/burn amounts are integers
whose sums stay below 2**53, so every liquidity comparison is exact; the
swap comparisons are bit-exact against the scalar ``Pool.swap_in`` loop.
"""

import importlib.util
import os
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BY = ["chain_name", "address"]
# branch A through deep branch B, then one no pool can fill
AMOUNTS = [1e3, 1e6, 1e8, 1e9, 1e10, 1e11, 1e12, 1e14, 1e40]


def _gen_pool():
    spec = importlib.util.spec_from_file_location(
        "gen_pool", os.path.join(REPO, "perfbench", "gen_pool.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve through sys.modules
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def gen(spark, tmp_path_factory):
    """(dataset, data dir, as_of, {address: Pool}) for three small pools."""
    from v3_polars_spark.v3 import Pool

    gp = _gen_pool()
    data = str(tmp_path_factory.mktemp("v3pools"))
    ds = gp.pool_dataset(
        7, data, n_pools=3, n_swaps=200, n_mb=80, span_blocks=4_000, n_syncs=1
    )
    # half-way between two (block, tx) slots: never equal to an event key
    as_of = gp.B0 + 3_000 + 0.00255
    pools = {p.address: Pool(spark, p.address, gp.CHAIN, data) for p in ds.pools}
    return ds, data, as_of, pools


def _frames(spark, data):
    from v3_polars_spark import tables as T

    mb = T.with_as_of(T.read_table(spark, data, "pool_mint_burn_events")).withColumns(
        {
            "amount": F.col("amount").cast("double"),
            "tick_lower": F.col("tick_lower").cast("long"),
            "tick_upper": F.col("tick_upper").cast("long"),
            "type_of_event": F.col("type_of_event").cast("double"),
        }
    )
    swaps = T.with_as_of(T.read_table(spark, data, "pool_swap_events"))
    factory = T.read_table(spark, data, "factory_pool_created").withColumnRenamed(
        "pool", "address"
    )
    return mb, swaps, factory


def _scalar(pool, as_of, token_in, amount):
    """Looped swap_in: (amt_out, sqrt_price_last, fee_dict), or None where
    the scalar path asserts that the pool cannot fill the amount."""
    try:
        out, (spl, _, fee_dict) = pool.swap_in(
            {"as_of": as_of, "tokenIn": token_in, "swapIn": amount, "fees": True}
        )
    except AssertionError:
        return None
    return out, spl, fee_dict


def _check_quote(row, want, fees):
    if want is None:
        assert row["sufficient"] is False and row["amt_out"] is None
        return
    out, spl, fee_dict = want
    assert row["sufficient"] is True
    assert row["amt_out"] == out
    assert row["sqrt_price_last"] == spl
    if fees:
        assert {e["tick"]: (e["fee"], e["liquidity"]) for e in row["fees"]} == fee_dict


@pytest.mark.parametrize("fees", [False, True])
@pytest.mark.parametrize("token1_in", [False, True])
def test_quote_ladder_matches_looped_swap_in(spark, gen, token1_in, fees):
    _, _, as_of, pools = gen
    branches = set()
    for pool in pools.values():
        token = pool.token1 if token1_in else pool.token0
        adf = spark.createDataFrame(
            list(enumerate(AMOUNTS)), "quote_id long, amount_in double"
        )
        got = {r["quote_id"]: r for r in pool.quote_ladder(as_of, token, adf, fees=fees).collect()}
        assert len(got) == len(AMOUNTS)
        for i, a in enumerate(AMOUNTS):
            _check_quote(got[i], _scalar(pool, as_of, token, a), fees)
            branches.add(got[i]["branch"])
    assert branches == {"A", "B"}


@pytest.mark.parametrize("zero_for_one", [True, False])
def test_quote_ladder_multi_matches_per_pool_swap_in(spark, gen, zero_for_one):
    from v3_polars_spark.v3 import quote_ladder_multi

    ds, data, as_of, pools = gen
    mb, swaps, factory = _frames(spark, data)
    rows = [
        ("ethereum", addr, i * len(AMOUNTS) + j, a)
        for i, addr in enumerate(pools)
        for j, a in enumerate(AMOUNTS)
    ]
    ghost = ("ethereum", "0x" + "00" * 20, 10_000, 1e6)
    adf = spark.createDataFrame(
        rows + [ghost], "chain_name string, address string, quote_id long, amount_in double"
    )
    got = {
        r["quote_id"]: r
        for r in quote_ladder_multi(
            mb, swaps, factory, adf, as_of, zero_for_one=zero_for_one, fees=True
        ).collect()
    }
    assert len(got) == len(rows) + 1
    assert got[10_000]["sufficient"] is False and got[10_000]["branch"] is None
    for _, addr, qid, a in rows:
        pool = pools[addr]
        token = pool.token0 if zero_for_one else pool.token1
        _check_quote(got[qid], _scalar(pool, as_of, token, a), fees=True)


def test_null_amount_is_not_sufficient(spark, gen):
    """A NULL amount quotes as sufficient=false with NULL outputs on both
    the single-pool and the many-pool path."""
    from v3_polars_spark.v3 import quote_ladder_multi

    _, data, as_of, pools = gen
    addr, pool = next(iter(pools.items()))
    adf = spark.createDataFrame(
        [("ethereum", addr, 0, None), ("ethereum", addr, 1, 1e6)],
        "chain_name string, address string, quote_id long, amount_in double",
    )
    single = {
        r["quote_id"]: r
        for r in pool.quote_ladder(as_of, pool.token0, adf.select("quote_id", "amount_in")).collect()
    }
    mb, swaps, factory = _frames(spark, data)
    multi = {
        r["quote_id"]: r
        for r in quote_ladder_multi(mb, swaps, factory, adf, as_of, zero_for_one=True).collect()
    }
    for got in (single, multi):
        assert got[0]["sufficient"] is False
        assert got[0]["amt_out"] is None and got[0]["sqrt_price_last"] is None
        assert got[1]["sufficient"] is True


def test_liquidity_distribution_by_pool(spark, gen):
    """One partitioned plan == per-pool calls == the generator's oracle."""
    from v3_polars_spark.v3 import liquidity_distribution

    ds, data, as_of, pools = gen
    mb, _, _ = _frames(spark, data)
    multi = {}
    for r in liquidity_distribution(mb, as_of, by=BY).collect():
        multi.setdefault(r["address"], {})[r["tick"]] = r["liquidity"]
    assert set(multi) == set(pools)
    for p in ds.pools:
        single = {r["tick"]: r["liquidity"] for r in pools[p.address].create_liq(as_of).collect()}
        assert multi[p.address] == single == p.liquidity_at(as_of)


@pytest.mark.parametrize("wide_threshold", [64, 0])  # fused plan / grid plan
def test_liquidity_timeline_matches_per_frame(spark, gen, monkeypatch, wide_threshold):
    from v3_polars_spark.v3 import liquidity, liquidity_timeline

    monkeypatch.setattr(liquidity, "WIDE_THRESHOLD", wide_threshold)
    ds, data, _, pools = gen
    mb, _, _ = _frames(spark, data)
    frames = [ds.first_block + b + 0.00255 for b in (1_000, 2_500, 3_900)]
    got = {}
    for r in liquidity_timeline(mb, frames, by=BY).collect():
        got[(r["address"], r["frame_as_of"], r["tick"])] = r["liquidity"]
    for p in ds.pools:
        for f in frames:
            want = p.liquidity_at(f)
            assert want, f
            for tick, liq in want.items():
                assert got[(p.address, f, tick)] == liq, (p.address, f, tick)


def test_pool_quote_ladder_reuses_memo_frame(spark, gen, monkeypatch):
    """Pool.quote_ladder quotes against the swap frame calc_swap_df already
    built for that as_of instead of rebuilding it."""
    from v3_polars_spark.v3 import pool as pool_mod

    _, _, as_of, pools = gen
    pool = next(iter(pools.values()))
    pool.calc_swap_df(as_of)
    built = []
    real = pool_mod.swap_frame
    monkeypatch.setattr(
        pool_mod, "swap_frame", lambda *a, **k: built.append(1) or real(*a, **k)
    )
    adf = spark.createDataFrame([(0, 1e6)], "quote_id long, amount_in double")
    assert pool.quote_ladder(as_of, pool.token0, adf).count() == 1
    assert built == []
