"""The v3 column kernels on generated pools: no reference example data needed.

A seeded multi-pool dataset from ``perfbench/gen_pool.py`` (loaded read-only)
stands in for the reference examples. Its mint/burn amounts are integers
whose sums stay below 2**53, so every liquidity comparison is exact; the
swap comparisons are bit-exact against the scalar ``Pool.swap_in`` loop.
"""

import datetime as dt
import importlib.util
import os
import shutil
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


@pytest.mark.parametrize("fees", [False, True])
def test_pool_quote_ladder_is_one_job_without_join(spark, gen, count_jobs, fees):
    """With the swap frame in the memo, a ladder is one narrow projection:
    its depth array is a literal, so the plan has no join and one job."""
    _, _, as_of, pools = gen
    pool = next(iter(pools.values()))
    pool.calc_swap_df(as_of)
    adf = spark.createDataFrame(list(enumerate(AMOUNTS)), "quote_id long, amount_in double")
    q = pool.quote_ladder(as_of, pool.token1, adf, fees=fees)
    with count_jobs() as jobs:
        assert len(q.collect()) == len(AMOUNTS)
    assert jobs.n == 1
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Window" not in plan and "Exchange" not in plan


def test_quote_in_direction_with_empty_depth(spark, gen):
    """A direction with no tick beyond the in-range one folds to an empty
    depth array: branch A still prices, and a branch-B amount reads
    sufficient=false where the scalar path asserts."""
    from v3_polars_spark.v3.swap import quote_ladder, swap_depth, swap_in

    _, _, as_of, pools = gen
    pool = next(iter(pools.values()))
    rows, irv = pool.calc_swap_df(as_of)
    above = [r for r in rows if r["tick_a"] >= irv.tick]  # nothing below: token0-in is dry
    assert swap_depth(above, irv, token_in_is_token1=False) == []
    assert swap_depth(above, irv, token_in_is_token1=True) == swap_depth(rows, irv, True)
    small, big = irv.in_range0 / 10, irv.in_range0 * 10
    adf = spark.createDataFrame([(0, small), (1, big)], "quote_id long, amount_in double")
    got = {
        r["quote_id"]: r
        for r in quote_ladder(above, irv, False, adf, pool.fee, fees=True).collect()
    }
    out, (spl, _, fee_dict) = swap_in(above, irv, False, small, pool.fee, fees=True)
    _check_quote(got[0], (out, spl, fee_dict), fees=True)
    assert got[1]["branch"] == "B" and got[1]["sufficient"] is False
    assert got[1]["amt_out"] is None and got[1]["fees"] is None
    with pytest.raises(AssertionError, match="Not enough liquidity"):
        swap_in(above, irv, False, big, pool.fee)


def _fresh_series(spark, data, pool, start, every, gas):
    """price_series over a fresh read of the raw chain swap table, both
    inputs cut at ``start`` before the dedups: the same rows, from a plan
    that shares no subtree with (so never reads) the Pool's cached clocks."""
    from v3_polars_spark import tables as T
    from v3_polars_spark.v3 import price_series

    chain = T.tenant_filter(T.read_table(spark, data, "pool_swap_events"), pool.chain)
    since = F.col("block_timestamp") >= F.lit(start)
    return price_series(chain.filter(since), pool.swaps.filter(since), start, every, gas)


def _rows(df):
    return sorted(df.collect(), key=lambda r: r["block_timestamp"])


@pytest.mark.parametrize("every", ["1h", "6h", "1d"])
def test_pool_price_series_matches_uncached_composition(spark, gen, every):
    """The cached clocks give the rows of the uncached composition, with
    gas off and on, from a start inside, before and after the swaps."""
    gp = _gen_pool()
    _, data, _, pools = gen
    pool = next(iter(pools.values()))
    starts = {gp.GENESIS + dt.timedelta(hours=2): True}
    if every == "6h":  # before the first swap, after the last
        day = dt.timedelta(days=1)
        starts |= {gp.GENESIS - day: True, gp.GENESIS + 30 * day: False}
    for start, any_rows in starts.items():
        for gas in (False, True):
            got = _rows(pool.get_price_series(start, every, gas))
            assert got == _rows(_fresh_series(spark, data, pool, start, every, gas))
            assert bool(got) is any_rows


def test_pool_price_series_repeat_call_jobs(spark, gen, count_jobs):
    gp = _gen_pool()
    _, _, _, pools = gen
    pool = list(pools.values())[1]
    start = gp.GENESIS + dt.timedelta(hours=1)
    pool.get_price_series(start, "6h").collect()
    with count_jobs() as jobs:
        pool.get_price_series(start + dt.timedelta(hours=1), "6h").collect()
    assert jobs.n <= 4


def test_pool_price_series_sees_append(spark, gen, tmp_path):
    """An appended raw swap segment changes the table's fingerprint: the
    next call rebuilds the block clock, shows the new rows and unpersists
    the clock it replaced; a Pool whose first call comes after the append
    sees them too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from v3_polars_spark.v3 import Pool

    gp = _gen_pool()
    _, data, _, pools = gen
    addr = next(iter(pools))
    copy = str(tmp_path / "data")
    shutil.copytree(data, copy)
    pool = Pool(spark, addr, gp.CHAIN, copy)
    late = Pool(spark, list(pools)[1], gp.CHAIN, copy)  # first call after the append
    start = gp.GENESIS
    before = _rows(pool.get_price_series(start, "1h"))
    old_clock = pool._block_clock[1]

    # a later segment: another pool's first swaps moved 20 h (6,000 blocks) on
    swaps = pq.read_table(os.path.join(copy, "pool_swap_events", "part-0.parquet"))
    seg = swaps.to_pandas()
    seg = seg[seg["address"] != addr].head(5)
    seg["block_number"] += 6_000
    seg["block_timestamp"] += dt.timedelta(hours=20)
    pq.write_table(
        pa.Table.from_pandas(seg, schema=swaps.schema, preserve_index=False),
        os.path.join(copy, "pool_swap_events", "part-1.parquet"),
    )
    newest = int(seg["block_number"].max())

    # the chain clock cached before the append is never served to another Pool
    assert max(r["block_number"] for r in late.get_price_series(start, "1h").collect()) == newest
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()

    after = _rows(pool.get_price_series(start, "1h"))
    # replaced, not kept: the new clock shares the one `late` cached for
    # the same listing, and the old one's data is released
    assert not old_clock.is_cached and pool._block_clock[1].is_cached
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted - 1
    assert after == _rows(_fresh_series(spark, copy, pool, start, "1h", False))
    assert max(r["block_number"] for r in after) == newest
    assert len(after) > len(before) and after[: len(before)] == before


def test_tick_twap_matches_bruteforce_generated(spark, gen):
    """Oracle-semantics TWAP over a generated pool's swaps equals the
    sequential hold-until-next integration of its last swap per timestamp."""
    from v3_polars_spark import tables as T
    from v3_polars_spark.v3 import tick_twap

    gp = _gen_pool()
    _, data, _, pools = gen
    raw = T.read_table(spark, data, "pool_swap_events")
    swaps = T.tenant_filter(raw, gp.CHAIN, next(iter(pools)))
    start, end = gp.GENESIS + dt.timedelta(hours=1), gp.GENESIS + dt.timedelta(hours=10)
    row = tick_twap(swaps, start, end).collect()[0]

    window = (F.col("block_timestamp") >= F.lit(start)) & (F.col("block_timestamp") < F.lit(end))
    last = {}
    for r in swaps.filter(window).collect():  # dedup to last per timestamp (tiebreak order)
        o = (r.block_number, r.transaction_index, r.log_index)
        if r.block_timestamp not in last or o > last[r.block_timestamp][0]:
            last[r.block_timestamp] = (o, int(r.tick))
    series = sorted((ts, tick) for ts, (_, tick) in last.items())
    assert len(series) > 2
    total = (series[-1][0] - series[0][0]).total_seconds()
    wsum = sum((t2 - t1).total_seconds() * k for (t1, k), (t2, _) in zip(series, series[1:]))
    assert abs(row.avg_tick - wsum / total) < 1e-9
    assert abs(row.twap_price - 1.0001 ** row.avg_tick) < 1e-12
    assert row.n_swaps == len(series)


# -- the listing-keyed frames of a Pool, on a copy of the generated pools ------

def _copy(gen, tmp_path):
    """(copy of the generated data, first pool's address, its dataset entry)."""
    ds, data, _, pools = gen
    copy = str(tmp_path / "data")
    shutil.copytree(data, copy)
    return copy, next(iter(pools)), ds.pools[0]


def _append(copy, addr, n=3):
    """Land a later segment in the raw swap and mint/burn tables: this
    pool's last ``n`` events of each, moved 20 h (6,000 blocks) on, the
    swaps at a tick no earlier swap has. Returns (newest block, new tick)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for table in ("pool_swap_events", "pool_mint_burn_events"):
        src = pq.read_table(os.path.join(copy, table, "part-0.parquet"))
        seg = src.to_pandas()
        seg = seg[seg["address"] == addr].tail(n)
        seg["block_number"] += 6_000
        seg["block_timestamp"] += dt.timedelta(hours=20)
        if table == "pool_swap_events":
            tick = max(int(t) for t in src.column("tick").to_pylist()) + 1
            seg["tick"] = str(tick)
            newest = int(seg["block_number"].max())
        pq.write_table(
            pa.Table.from_pandas(seg, schema=src.schema, preserve_index=False),
            os.path.join(copy, table, "part-1.parquet"),
        )
    return newest, tick


def _marks(sp):
    """Saved frame dir -> mtime of its _RAW_FINGERPRINT marker."""
    return {
        d: os.stat(os.path.join(d, "_RAW_FINGERPRINT")).st_mtime_ns
        for d, _, names in os.walk(sp)
        if "_RAW_FINGERPRINT" in names
    }


def _multiset(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


def _fresh(spark, copy, addr, table):
    """A Pool frame built straight from the raw table, never cached."""
    from v3_polars_spark import tables as T

    gp = _gen_pool()
    df = T.tenant_filter(T.read_table(spark, copy, table), gp.CHAIN, addr)
    return T.typed_events(df, table)


def test_save_path_roundtrip_generated(spark, gen, tmp_path):
    """The saved frames land under save_path/<chain>/<pool>/<table>, and a
    second Pool reads them back with the same liquidity and price."""
    from v3_polars_spark.v3 import Pool

    gp = _gen_pool()
    _, _, as_of, _ = gen
    copy, addr, p = _copy(gen, tmp_path)
    sp = str(tmp_path / "save")
    p1 = Pool(spark, addr, gp.CHAIN, copy, save_path=sp)
    liq = {r["tick"]: r["liquidity"] for r in p1.create_liq(as_of).collect()}
    base = os.path.join(sp, gp.CHAIN, addr)
    want = {os.path.join(base, t) for t in ("pool_swap_events", "pool_mint_burn_events")}
    assert set(_marks(sp)) == want
    assert all(os.path.exists(os.path.join(d, "_SUCCESS")) for d in want)

    p2 = Pool(spark, addr, gp.CHAIN, copy, save_path=sp)
    assert {r["tick"]: r["liquidity"] for r in p2.create_liq(as_of).collect()} == liq
    assert liq == p.liquidity_at(as_of)
    assert p2.get_price_at(as_of) == p1.get_price_at(as_of) == p.price_at(as_of)


def test_save_path_staleness_rebuild_generated(spark, gen, tmp_path):
    """An untouched source is served as saved, an append rebuilds the
    saved frames, and refresh=True rebuilds them regardless."""
    from v3_polars_spark.v3 import Pool

    gp = _gen_pool()
    copy, addr, _ = _copy(gen, tmp_path)
    sp = str(tmp_path / "save")
    n = Pool(spark, addr, gp.CHAIN, copy, save_path=sp).swaps.count()
    marks = _marks(sp)

    assert Pool(spark, addr, gp.CHAIN, copy, save_path=sp).swaps.count() == n
    assert _marks(sp) == marks  # served as saved

    _append(copy, addr)
    assert Pool(spark, addr, gp.CHAIN, copy, save_path=sp).swaps.count() == n + 3
    rebuilt = _marks(sp)
    assert all(rebuilt[d] != m for d, m in marks.items())

    assert Pool(spark, addr, gp.CHAIN, copy, save_path=sp, refresh=True).swaps.count() == n + 3
    assert all(_marks(sp)[d] != m for d, m in rebuilt.items())


def test_pool_without_save_path_sees_append(spark, gen, tmp_path):
    """Two Pools without save_path, rows appended to the raw tables in
    between: the second counts them in swaps, mb and its price series
    instead of being served the first one's cached frames."""
    from v3_polars_spark.v3 import Pool

    gp = _gen_pool()
    copy, addr, _ = _copy(gen, tmp_path)
    first = Pool(spark, addr, gp.CHAIN, copy)
    n_swaps, n_mb = first.swaps.count(), first.mb.count()
    first.get_price_series(gp.GENESIS, "1h").collect()  # caches its clocks

    newest, tick = _append(copy, addr)
    second = Pool(spark, addr, gp.CHAIN, copy)
    assert (second.swaps.count(), second.mb.count()) == (n_swaps + 3, n_mb + 3)
    series = second.get_price_series(gp.GENESIS, "1h").collect()
    last = max(series, key=lambda r: r["block_timestamp"])
    assert (last["block_number"], last["tick"]) == (newest, tick)
    assert (first.swaps.count(), first.mb.count()) == (n_swaps, n_mb)  # fixed at first access


def test_pool_save_crash_before_marker_rebuilds(spark, gen, tmp_path, monkeypatch):
    """A rebuild that dies after the parquet overwrite, before its marker
    is written, is never trusted: the next Pool on the same save_path
    rebuilds, and its frames equal a fresh build as row multisets."""
    from v3_polars_spark import fsutil
    from v3_polars_spark.v3 import Pool

    gp = _gen_pool()
    copy, addr, _ = _copy(gen, tmp_path)
    sp = str(tmp_path / "save")
    Pool(spark, addr, gp.CHAIN, copy, save_path=sp)
    _append(copy, addr)

    real, calls = fsutil.write_text_atomic, []

    def crash_once(*a):
        calls.append(a)
        if len(calls) == 1:
            raise OSError("crash before the marker")
        real(*a)

    monkeypatch.setattr(fsutil, "write_text_atomic", crash_once)
    with pytest.raises(OSError, match="crash before the marker"):
        Pool(spark, addr, gp.CHAIN, copy, save_path=sp)
    monkeypatch.setattr(fsutil, "write_text_atomic", real)

    marks = _marks(sp)
    pool = Pool(spark, addr, gp.CHAIN, copy, save_path=sp)
    assert all(_marks(sp)[d] != m for d, m in marks.items())  # both rebuilt
    for table, got in (("pool_swap_events", pool.swaps), ("pool_mint_burn_events", pool.mb)):
        raw = os.path.join(copy, table)
        marker = os.path.join(sp, gp.CHAIN, addr, table, "_RAW_FINGERPRINT")
        assert fsutil.read_text(spark, marker) == fsutil.dir_fingerprint(spark, raw)
        assert _multiset(got) == _multiset(_fresh(spark, copy, addr, table))
