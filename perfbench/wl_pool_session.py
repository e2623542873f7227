"""``pool_session``: a mirrored Uniswap v3 pool set, synced then queried.

One client, closed loop. Each set-up is a working session's start: start
Spark, sync the mirror -- ``sources.update_tables`` appends the blocks that
arrived since the last sync, read through ``LocalParquetConnector`` -- and
open every pool as ``Pool(..., save_path=...)``, which sees the append by
fingerprint and rebuilds its saved frames. A round is then one analysis
step on one pool, drawn from a skewed popularity: price and tick lookups,
a liquidity distribution, a swap at a fresh ``as_of``, a second swap at
the same ``as_of`` (the Pool's single-slot memo), a quote ladder at that
``as_of`` and a 6h price series. Each call launches a few tiny Spark jobs,
so driver planning and the per-job scheduling floor dominate.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import gen_pool
from harness import Ctx, Result, median, round_ms, tail
from tracing import Tracer, layer_metrics, plan, span_median

KINDS = ("price", "tick", "liq", "swap_fresh", "swap_memo", "quote", "series")
LADDER = 8  # amounts per quote ladder
CHECKED_LADDERS = 1  # ladders per chunk replayed through looped swap_in


def _round(rng: np.random.Generator, ds: gen_pool.PoolDataset, cap: int) -> tuple[int, dict]:
    """One round's pool and arguments; every ``as_of`` lies before the
    newest block the mirror holds after syncing up to ``cap``."""
    i = int(rng.choice(len(ds.pools), p=ds.weights))
    p = ds.pools[i]
    lo = float(p.swap_as_of[0])
    hi = float(p.newest(cap))

    def probe() -> float:
        # half-way between two (block, tx) slots: never equal to an event key
        b = int(rng.integers(int(lo) + 1, int(hi)))
        return b + (int(rng.integers(0, gen_pool.TX_SLOTS)) + 0.5) / 1e4

    span = ds.last_block - ds.first_block
    start_block = ds.first_block + int(rng.integers(0, int(span * 0.8)))
    return i, {
        "price": probe(),
        "tick": probe(),
        "liq": probe(),
        "swap": probe(),
        "token1_in": bool(rng.integers(0, 2)),
        "amounts": (10.0 ** rng.uniform(6, 12, size=2 + LADDER)).round().tolist(),
        "series_start": gen_pool.GENESIS
        + dt.timedelta(seconds=12 * (start_block - ds.first_block)),
    }


def _calls(pool, a: dict):
    """The round's calls as (kind, thunk, force) triples. ``force`` is None
    for calls that return a value; a DataFrame-returning call's thunk
    builds the DataFrame and ``force`` runs it, so a traced run can time
    build, plan and execute apart."""
    token = pool.token1 if a["token1_in"] else pool.token0
    amts = a["amounts"]

    def ladder_df():
        return pool.quote_ladder(
            a["swap"], token,
            pool.spark.createDataFrame(
                [(k, float(x)) for k, x in enumerate(amts[2:])], "quote_id long, amount_in double"
            ),
        )

    swap = lambda amt: pool.swap_in({"as_of": a["swap"], "tokenIn": token, "swapIn": amt})
    return [
        ("price", lambda: pool.get_price_at(a["price"]), None),
        ("tick", lambda: pool.get_tick_at(a["tick"]), None),
        ("liq", lambda: pool.create_liq(a["liq"]), lambda df: df.collect()),
        ("swap_fresh", lambda: swap(amts[0]), None),
        ("swap_memo", lambda: swap(amts[1]), None),
        ("quote", ladder_df, lambda df: df.collect()),
        ("series", lambda: pool.get_price_series(a["series_start"], "6h"), lambda df: df.collect()),
    ]


def _run_call(tracer, pool, kind, thunk, force, a) -> tuple[float, object, dict]:
    t0 = time.perf_counter()
    with tracer.call(kind) as rec:
        if kind == "swap_fresh" and tracer.on:
            with tracer.span("v3.calc_swap_df"):
                pool.calc_swap_df(a["swap"])
            with tracer.span("v3.swap_kernel"):
                out = thunk()
        elif force is None:
            out = thunk()
        else:
            with tracer.span("build"):
                df = thunk()
            if tracer.on:
                with tracer.span("plan"):
                    plan(df)
            with tracer.span("execute"):
                out = force(df)
    return (time.perf_counter() - t0) * 1e3, out, rec


class TimedConnector:
    """Times the connector's three methods and counts the calls."""

    def __init__(self, inner):
        self.inner = inner
        self.calls = 0
        self.ms = 0.0

    def _timed(self, name, *args):
        self.calls += 1
        t0 = time.perf_counter()
        try:
            return getattr(self.inner, name)(*args)
        finally:
            self.ms += (time.perf_counter() - t0) * 1e3

    def min_max_block(self, chain, table):
        return self._timed("min_max_block", chain, table)

    def segment_horizon(self, chain, table, min_block, tgt_max_rows):
        return self._timed("segment_horizon", chain, table, min_block, tgt_max_rows)

    def read_segment(self, spark, chain, table, lo, hi):
        return self._timed("read_segment", spark, chain, table, lo, hi)


def _files(path: str) -> dict[str, int]:
    """Committed parquet files under ``path`` -> size (hidden dirs skipped)."""
    out = {}
    for d, _, names in os.walk(path):
        rel = os.path.relpath(d, path)
        if any(seg.startswith((".", "_")) for seg in rel.split(os.sep) if seg != "."):
            continue
        for n in names:
            if n.endswith(".parquet"):
                out[os.path.join(d, n)] = os.path.getsize(os.path.join(d, n))
    return out


def _markers(save: str) -> dict[str, int]:
    """Saved frame dir -> mtime of its source-fingerprint marker."""
    return {
        d: os.stat(os.path.join(d, "_RAW_FINGERPRINT")).st_mtime_ns
        for d, _, names in os.walk(save)
        if "_RAW_FINGERPRINT" in names
    }


def run(ctx: Ctx) -> Result:
    from v3_polars_spark import tables as T
    from v3_polars_spark.sources import LocalParquetConnector, update_tables
    from v3_polars_spark.v3 import Pool

    source, landed, save = ctx.path("source"), ctx.path("landed"), ctx.path("save")
    ds = gen_pool.pool_dataset(ctx.seed, source)

    def measure(tracer, pools, cap, rng, budget_s: float, min_rounds: int, n_rounds: int = 0):
        rounds, calls = [], []
        spent = 0.0
        while (spent < budget_s or len(rounds) < min_rounds) and (
            not n_rounds or len(rounds) < n_rounds
        ):
            i, a = _round(rng, ds, cap)
            r_ms = 0.0
            for kind, thunk, force in _calls(pools[i], a):
                try:
                    ms, out, rec = _run_call(tracer, pools[i], kind, thunk, force, a)
                    calls.append((kind, i, a, ms, out, rec, None))
                except Exception as e:  # counted as a failed operation
                    print(f"perfbench: {kind} on pool {i} failed: {e!r}", file=sys.stderr)
                    ms = 0.0
                    calls.append((kind, i, a, ms, None, {}, repr(e)))
                r_ms += ms
            rounds.append(r_ms)
            spent += r_ms / 1e3
        return rounds, calls

    # The timed rounds come in three chunks, one after each set-up, so a
    # burst of load from outside the run lands in one chunk and the
    # per-operation medians of round_ms pass it by. A traced run gives the
    # untraced chunks half of its time.
    budget = (ctx.seconds / 2 if ctx.trace else ctx.seconds) / len(ds.sync_caps)
    rng = np.random.default_rng([ctx.seed, 7])
    setups, init_ms, syncs, rounds, calls = [], [], [], [], []
    failed = attempted = 0
    for cap in ds.sync_caps:
        attempted += 1
        t0 = time.perf_counter()
        spark = ctx.start_session()
        conn = TimedConnector(LocalParquetConnector(spark, source))
        before, marks = _files(landed), _markers(save)
        segments = sum(
            update_tables(spark, conn, landed, gen_pool.CHAIN, max_block_cap=cap).values()
        )
        t_sync = time.perf_counter()
        pools = []
        for p in ds.pools:
            ti = time.perf_counter()
            pools.append(Pool(spark, p.address, gen_pool.CHAIN, landed, save_path=save))
            init_ms.append((time.perf_counter() - ti) * 1e3)
        t_open = time.perf_counter()
        # warm-up: one round of every call kind (plan shapes, codegen and
        # JIT are shared by all pools; Pool init already filled the caches)
        i, a = _round(np.random.default_rng([ctx.seed, 99]), ds, cap)
        for kind, thunk, force in _calls(pools[i], a):
            out = thunk()
            if force is not None:
                force(out)
        setups.append(time.perf_counter() - t0)
        after = _files(landed)
        syncs.append({
            "sync_ms": (t_sync - t0) * 1e3,
            "open_ms": (t_open - t_sync) * 1e3,
            "connector_ms": conn.ms,
            "connector_calls": conn.calls,
            "segments": segments,
            "files": len(set(after) - set(before)),
            "bytes": sum(after.values()) - sum(before.values()),
            "rebuilds": sum(_markers(save).get(d) != m for d, m in marks.items()),
        })
        # the mirror holds exactly the source rows at or below the cap, and
        # every reopened pool sees its newest block
        bad = any(
            sum(pq.read_metadata(f).num_rows for f in _files(os.path.join(landed, t)))
            != ds.rows_at_or_below(t, cap)
            for t in T.TABLES
        ) or any(pool.max_supported != p.newest(cap) for pool, p in zip(pools, ds.pools))
        failed += bad
        cache_bytes = ctx.cached_bytes()  # the last set-up's is reported
        chunk_rounds, chunk_calls = measure(Tracer(None), pools, cap, rng, budget, 1)
        failed += _check(ds, pools, chunk_calls)
        rounds += chunk_rounds
        calls += chunk_calls

    by = {k: [c[3] for c in calls if c[0] == k and c[6] is None] for k in KINDS}
    all_ms = [c[3] for c in calls if c[6] is None]
    t_val, t_pct, t_n = tail(all_ms)
    detail = {
        "lookup_p50_ms": (median(by["price"] + by["tick"]), "ms"),
        "liq_p50_ms": (median(by["liq"]), "ms"),
        "swap_p50_ms": (median(by["swap_fresh"]), "ms"),
        "quote_p50_ms": (median(by["quote"]), "ms"),
        "series_p50_ms": (median(by["series"]), "ms"),
        "call_tail_ms": (t_val, "ms"),
        "call_tail_pct": (t_pct, "%"),
        "call_samples": (t_n, "count"),
    }
    # the later syncs append one step each; the first lands the base
    steps = syncs[1:]
    mean = lambda k: sum(s[k] for s in steps) / len(steps)
    stored = sum(_files(landed).values()) + sum(_files(save).values())
    detail.update({
        "sync_p50_ms": (median([s["sync_ms"] for s in steps]), "ms"),
        "open_p50_ms": (median([s["open_ms"] for s in steps]), "ms"),
        "stored_bytes_ratio": (stored / sum(_files(source).values()), "ratio"),
    })
    res = Result(setups, rounds, by, attempted + len(calls), failed, detail)
    layers = {
        "entry.cache_bytes": cache_bytes,
        "v3.pool_init_ms": median(init_ms),
        "v3.refresh_ms": median([s["open_ms"] for s in steps]) / len(ds.pools),
        "v3.refresh_rebuilds": mean("rebuilds"),
        "sources.connector_ms": mean("connector_ms"),
        "sources.connector_calls": mean("connector_calls"),
        "tables.segments_written": mean("segments"),
        "tables.files_written": mean("files"),
        "tables.bytes_written": mean("bytes"),
    }
    if ctx.trace:
        tracer = Tracer(ctx.spark)
        # same distribution and round count, fresh as_ofs: replaying phase
        # one's would hit the swap memos it left behind
        rng = np.random.default_rng([ctx.seed, 8])
        _, t_calls = measure(tracer, pools, cap, rng, float("inf"), 1, len(rounds))
        res.failed += _check(ds, pools, t_calls)
        res.attempted += len(t_calls)
        layers.update(_layers(tracer, t_calls, ctx.ncpu))
        t_by = {k: [c[3] for c in t_calls if c[0] == k and c[6] is None] for k in KINDS}
        layers["trace.overhead_frac"] = round_ms(t_by) / round_ms(by) - 1.0
        res.tracer = tracer
    res.layers = layers
    return res


def _check(ds, pools, calls) -> int:
    """Outputs against the generator's oracle; returns failed calls."""
    bad = 0
    ladders = 0
    for kind, i, a, _, out, _, err in calls:
        p = ds.pools[i]
        if err is not None:
            bad += 1
        elif kind == "price":
            bad += out != p.price_at(a["price"])
        elif kind == "tick":
            bad += out != p.tick_at(a["tick"])
        elif kind == "liq":
            bad += {r["tick"]: r["liquidity"] for r in out} != p.liquidity_at(a["liq"])
        elif kind == "quote":
            if ladders >= CHECKED_LADDERS:
                continue
            ladders += 1
            pool = pools[i]
            token = pool.token1 if a["token1_in"] else pool.token0
            for r in out:
                amount = a["amounts"][2 + r["quote_id"]]
                want_out, (want_spl, _, _) = pool.swap_in(
                    {"as_of": a["swap"], "tokenIn": token, "swapIn": amount}
                )
                if not (r["sufficient"] and r["amt_out"] == want_out
                        and r["sqrt_price_last"] == want_spl):
                    bad += 1
                    break
        elif kind == "series":
            bad += len(out) == 0
    return bad


def _layers(tracer, calls, ncpu: int) -> dict[str, float]:
    return layer_metrics(tracer, ncpu) | {
        "v3.swap_precompute_ms": span_median(tracer, "v3.calc_swap_df"),
        "v3.swap_kernel_ms": median([c[3] for c in calls if c[0] == "swap_memo"]),
        "v3.memo_hit_ratio": _memo_ratio(tracer),
        "v3.liq_ticks": float(np.mean([len(c[4]) for c in calls if c[0] == "liq" and c[4]])),
        "spark.rows_examined_per_result": float(np.mean([
            r["input_records"] for r in tracer.calls if r["kind"] in ("price", "tick")
        ])),
    }


def _memo_ratio(tracer) -> float:
    swaps = [r for r in tracer.calls if r["kind"] in ("swap_fresh", "swap_memo")]
    return sum(r["jobs"] == 0 for r in swaps) / len(swaps) if swaps else 0.0
