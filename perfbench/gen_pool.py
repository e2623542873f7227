"""Seeded Uniswap v3 event datasets in the reference schema
(``tables.SCHEMAS``), each with the oracle the benchmark checks against.

``pool_dataset`` writes a multi-pool dataset (factory, initialize, swaps,
mint/burns): the source tables that the ``pool_session`` workload mirrors
through ``sources.LocalParquetConnector`` and then queries.

The program under test only ever sees the written parquet. The oracles
answer from the generator's own arrays: the last swap strictly before an
``as_of`` (price and tick) and the numpy prefix-sum liquidity at an
``as_of``. Liquidity amounts are integers below 2**53 in total, so every
sum is exact in float64 whatever order an engine adds them in.

Every pool opens with a full-range backstop mint that is never burned, so
any ``as_of`` after the first swap has in-range liquidity and no simulated
swap runs out of depth. Burns only remove what an earlier mint of the same
position added. The same seed writes identical bytes.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHAIN = "ethereum"
B0 = 17_000_000  # first event block; blocks are 12 s apart
GENESIS = dt.datetime(2023, 4, 8, tzinfo=dt.timezone.utc)
MAX_TICK = 887272
Q96 = 2**96
FEE_TIERS = ((500, 10), (3000, 60), (10000, 200))
BACKSTOP = 10**12
TX_SLOTS = 50  # transaction indexes per block available to one pool


@dataclass
class PoolEvents:
    """One pool's metadata and its events as columns (time ordered)."""

    address: str
    token0: str
    token1: str
    fee: int
    ts: int
    init_block: int
    swap_block: np.ndarray
    swap_tx: np.ndarray
    swap_tick: np.ndarray
    swap_price: list  # sqrtPriceX96 as Python ints
    mb_block: np.ndarray
    mb_tx: np.ndarray
    mb_lower: np.ndarray
    mb_upper: np.ndarray
    mb_amount: np.ndarray  # int64, positive
    mb_type: np.ndarray  # +1 mint, -1 burn
    swap_as_of: np.ndarray = field(init=False)
    mb_as_of: np.ndarray = field(init=False)

    def __post_init__(self):
        # the program's key: block_number + transaction_index / 1e4 in float64
        self.swap_as_of = self.swap_block.astype(np.float64) + self.swap_tx / 1e4
        self.mb_as_of = self.mb_block.astype(np.float64) + self.mb_tx / 1e4

    # -- oracle -----------------------------------------------------------
    def last_swap(self, as_of: float) -> int:
        """Index of the last swap strictly before ``as_of`` (-1: none)."""
        return int(np.searchsorted(self.swap_as_of, as_of, side="left")) - 1

    def price_at(self, as_of: float) -> int | None:
        i = self.last_swap(as_of)
        return self.swap_price[i] if i >= 0 else None

    def tick_at(self, as_of: float) -> int | None:
        i = self.last_swap(as_of)
        return int(self.swap_tick[i]) if i >= 0 else None

    def newest(self, cap: int) -> int:
        """The completeness watermark ``Pool.max_supported`` reports once
        blocks up to ``cap`` are landed."""
        return min(
            int(self.swap_block[self.swap_block <= cap].max()),
            int(self.mb_block[self.mb_block <= cap].max()),
        )

    def liquidity_at(self, as_of: float) -> dict[int, float]:
        """tick -> prefix-sum liquidity, the distribution ``create_liq``
        returns: per-tick nets at lower and upper bounds, zero nets
        dropped, outer-joined on tick, summed in tick order."""
        m = self.mb_as_of < as_of
        signed = self.mb_amount[m] * self.mb_type[m]
        nets = []
        for ticks, sign in ((self.mb_lower[m], 1), (self.mb_upper[m], -1)):
            keys, inv = np.unique(ticks, return_inverse=True)
            sums = np.zeros(len(keys), dtype=np.int64)
            np.add.at(sums, inv, sign * signed)
            nets.append(dict(zip(keys[sums != 0].tolist(), sums[sums != 0].tolist())))
        ticks = sorted(set(nets[0]) | set(nets[1]))
        delta = np.array([nets[0].get(t, 0) + nets[1].get(t, 0) for t in ticks])
        return dict(zip(ticks, np.cumsum(delta).astype(np.float64).tolist()))


def _addr(rng: np.random.Generator) -> str:
    return "0x" + rng.bytes(20).hex()


def _pool_events(
    rng: np.random.Generator,
    block_lo: int,
    block_hi: int,
    n_swaps: int,
    n_mb: int,
) -> PoolEvents:
    fee, ts = FEE_TIERS[int(rng.integers(len(FEE_TIERS)))]
    token0, token1 = sorted((_addr(rng), _addr(rng)))
    address = _addr(rng)

    # unique (block, tx) slots; slot 0 is the backstop mint, slot 1 the
    # first swap, the rest are shuffled between swaps and mint/burns
    n = n_swaps + n_mb
    slots = np.sort(rng.choice((block_hi - block_lo) * TX_SLOTS, size=n, replace=False))
    is_swap = np.zeros(n, dtype=bool)
    is_swap[1] = True
    is_swap[2 + rng.choice(n - 2, size=n_swaps - 1, replace=False)] = True
    block = block_lo + slots // TX_SLOTS
    tx = slots % TX_SLOTS

    # price path: a random walk in tick space, fractional part kept so the
    # sqrt price is not always on a tick boundary
    start = float(rng.integers(-40_000, 40_000))
    steps = rng.normal(0.0, 2.5 * ts, size=n_swaps)
    tick_f = start + np.cumsum(steps)
    swap_tick = np.floor(tick_f).astype(np.int64)
    swap_price = [int(v) for v in np.power(1.0001, tick_f / 2.0) * float(Q96)]

    # mint/burn positions, placed around the price in force at their time
    lo_tick = -(MAX_TICK // ts) * ts
    hi_tick = (MAX_TICK // ts) * ts
    mb_idx = np.flatnonzero(~is_swap)
    swaps_before = np.cumsum(is_swap)[mb_idx]  # swaps at or before the slot
    lower = np.empty(n_mb, dtype=np.int64)
    upper = np.empty(n_mb, dtype=np.int64)
    amount = np.empty(n_mb, dtype=np.int64)
    kind = np.empty(n_mb, dtype=np.int64)
    lower[0], upper[0], amount[0], kind[0] = lo_tick, hi_tick, BACKSTOP, 1
    open_pos: list[list[int]] = []  # [lower, upper, remaining]
    for j in range(1, n_mb):
        if open_pos and rng.random() < 0.4:
            k = int(rng.integers(len(open_pos)))
            pos = open_pos[k]
            amt = pos[2] if rng.random() < 0.5 else int(rng.integers(1, pos[2] + 1))
            pos[2] -= amt
            if pos[2] == 0:
                open_pos[k] = open_pos[-1]
                open_pos.pop()
            lower[j], upper[j], amount[j], kind[j] = pos[0], pos[1], amt, -1
            continue
        cur = int(swap_tick[max(int(swaps_before[j]) - 1, 0)])
        width = int(rng.integers(1, 21))
        tl = (cur // ts - int(rng.integers(0, width + 1))) * ts
        tl = max(lo_tick, min(tl, hi_tick - width * ts))
        amt = int(rng.integers(10**9, 10**11))
        open_pos.append([tl, tl + width * ts, amt])
        lower[j], upper[j], amount[j], kind[j] = tl, tl + width * ts, amt, 1

    return PoolEvents(
        address=address,
        token0=token0,
        token1=token1,
        fee=fee,
        ts=ts,
        init_block=block_lo - 1,
        swap_block=block[is_swap],
        swap_tx=tx[is_swap],
        swap_tick=swap_tick,
        swap_price=swap_price,
        mb_block=block[mb_idx],
        mb_tx=tx[mb_idx],
        mb_lower=lower,
        mb_upper=upper,
        mb_amount=amount,
        mb_type=kind,
    )


# -- table writers ----------------------------------------------------------

def _ts(blocks: np.ndarray) -> pa.Array:
    micros = (GENESIS.timestamp() + 12.0 * (blocks - B0)).astype(np.int64) * 1_000_000
    return pa.array(micros, type=pa.timestamp("us", tz="UTC"))


def _hashes(blocks: np.ndarray, tx: np.ndarray, tag: int) -> list[str]:
    return [f"0x{b:056x}{t:04x}{tag:04x}" for b, t in zip(blocks.tolist(), tx.tolist())]


def _s(values) -> pa.Array:
    return pa.array([str(v) for v in values], type=pa.string())


def _tables(pools: list[PoolEvents], rng: np.random.Generator) -> dict[str, pa.Table]:
    fac, ini, sw, mb = [], [], [], []
    for i, p in enumerate(pools):
        ib = np.array([p.init_block])
        zero = np.zeros(1, dtype=np.int64)
        fac.append({
            "chain_name": [CHAIN], "block_timestamp": _ts(ib - 1),
            "block_number": ib - 1, "transaction_hash": _hashes(ib - 1, zero, i),
            "log_index": zero, "token0": [p.token0], "token1": [p.token1],
            "fee": [str(p.fee)], "tickSpacing": [str(p.ts)], "pool": [p.address],
        })
        ini.append({
            "chain_name": [CHAIN], "address": [p.address], "block_timestamp": _ts(ib),
            "block_number": ib, "transaction_hash": _hashes(ib, zero, i),
            "log_index": zero, "sqrtPriceX96": [str(p.swap_price[0])],
            "tick": [str(int(p.swap_tick[0]))], "to_address": [p.address],
            "from_address": [p.token0], "transaction_index": zero,
            "gas_price": ["20000000000"], "gas_used": ["4500000"],
        })
        n = len(p.swap_block)
        a0 = rng.integers(-10**15, 10**15, size=n)
        sw.append({
            "chain_name": [CHAIN] * n, "address": [p.address] * n,
            "block_timestamp": _ts(p.swap_block), "block_number": p.swap_block,
            "transaction_hash": _hashes(p.swap_block, p.swap_tx, i),
            "log_index": p.swap_tx * 4, "sender": [p.token0] * n,
            "recipient": [p.token1] * n, "amount0": _s(a0), "amount1": _s(-a0 * 3),
            "sqrtPriceX96": _s(p.swap_price), "liquidity": [str(BACKSTOP)] * n,
            "tick": _s(p.swap_tick), "from_address": [p.token0] * n,
            "to_address": [p.address] * n, "transaction_index": p.swap_tx,
            "gas_price": _s(rng.integers(10**9, 10**11, size=n)),
            "gas_used": _s(rng.integers(90_000, 300_000, size=n)),
            "l1_fee": ["0"] * n,
        })
        m = len(p.mb_block)
        mb.append({
            "chain_name": [CHAIN] * m, "address": [p.address] * m,
            "block_timestamp": _ts(p.mb_block), "block_number": p.mb_block,
            "transaction_hash": _hashes(p.mb_block, p.mb_tx, i),
            "log_index": p.mb_tx * 4 + 1, "amount": _s(p.mb_amount),
            "amount0": _s(p.mb_amount // 7), "amount1": _s(p.mb_amount // 3),
            "owner": [p.token1] * m, "tick_lower": _s(p.mb_lower),
            "tick_upper": _s(p.mb_upper), "type_of_event": p.mb_type,
            "to_address": [p.address] * m, "from_address": [p.token1] * m,
            "transaction_index": p.mb_tx,
            "gas_price": _s(rng.integers(10**9, 10**11, size=m)),
            "gas_used": _s(rng.integers(90_000, 300_000, size=m)),
            "l1_fee": ["0"] * m,
        })
    return {
        "factory_pool_created": fac,
        "pool_initialize_events": ini,
        "pool_swap_events": sw,
        "pool_mint_burn_events": mb,
    }


def _write(parts: dict[str, list[dict]], out_dir: str) -> None:
    from v3_polars_spark.tables import SCHEMAS

    for table, chunks in parts.items():
        schema = _arrow_schema(SCHEMAS[table])
        tbl = pa.concat_tables(
            [pa.table({f.name: c[f.name] for f in schema}, schema=schema) for c in chunks]
        ).sort_by([("block_number", "ascending")])
        os.makedirs(os.path.join(out_dir, table), exist_ok=True)
        pq.write_table(
            tbl, os.path.join(out_dir, table, "part-0.parquet"), row_group_size=65536
        )


def _arrow_schema(spark_schema) -> pa.Schema:
    kinds = {
        "StringType()": pa.string(),
        "LongType()": pa.int64(),
        "TimestampType()": pa.timestamp("us", tz="UTC"),
    }
    return pa.schema([(f.name, kinds[repr(f.dataType)]) for f in spark_schema.fields])


# -- the dataset -------------------------------------------------------------

@dataclass
class PoolDataset:
    pools: list[PoolEvents]
    weights: np.ndarray  # skewed call distribution over pools
    first_block: int
    last_block: int
    sync_caps: list[int]  # block cap of each successive mirror sync
    block_lists: dict[str, np.ndarray]  # table -> block_number of every row

    def rows_at_or_below(self, table: str, cap: int) -> int:
        return int(np.count_nonzero(self.block_lists[table] <= cap))


def pool_dataset(
    seed: int,
    out_dir: str,
    n_pools: int = 2,
    n_swaps: int = 20_000,
    n_mb: int = 4_000,
    span_blocks: int = 200_000,
    sync_step: int = 5_000,
    n_syncs: int = 3,
) -> PoolDataset:
    """Write the source tables under ``out_dir/<table>/``. The first sync
    lands all but the last ``n_syncs - 1`` steps of ``sync_step`` blocks;
    each later sync appends one step."""
    rng = np.random.default_rng([seed, 1])
    pools = [_pool_events(rng, B0, B0 + span_blocks, n_swaps, n_mb) for _ in range(n_pools)]
    parts = _tables(pools, rng)
    _write(parts, out_dir)
    w = 1.0 / np.arange(1, n_pools + 1) ** 1.1  # Zipf-like popularity
    last = B0 + span_blocks
    return PoolDataset(
        pools,
        w[rng.permutation(n_pools)] / w.sum(),
        B0,
        last,
        [last - k * sync_step for k in reversed(range(n_syncs))],
        {
            t: np.concatenate([np.asarray(c["block_number"]) for c in chunks])
            for t, chunks in parts.items()
        },
    )
