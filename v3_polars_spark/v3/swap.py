"""Swap-frame precompute and swapIn simulation.

Reference: v3/helpers/pool_helpers.py:63-131 (createSwapDF) and
v3/helpers/swap.py:41-212 (swapIn). Spark shape: the swap frame is a
DataFrame pipeline (lead window + column math) over the liquidity
distribution; it is O(#initialized ticks), so the Pool collects it once
per as_of and the branch logic runs on the collected rows — the correct
Spark idiom per SURVEY.md §3.2. Branch B's tick-crossing is one
driver-side fold of those rows into a direction-ordered cumulative-depth
array (``swap_depth``): the scalar ``swap_in`` bisects it in pure Python,
and the batched ``quote_ladder`` ships the same array into its plan as one
literal and bisects it per amount with a column ``filter`` (frames are
10²-10⁴ rows; no JVM round-trips in the hot loop, no join in the plan).
"""

from __future__ import annotations

import bisect
import json
import math
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import swap_math as sm
from .liquidity import liquidity_distribution


@dataclass
class InRangeValues:
    """The 7-tuple the reference caches (v3/helpers/pool_helpers.py:119-131)."""

    sqrt_p: float
    in_range0: float
    in_range_to_swap0: float
    in_range1: float
    in_range_to_swap1: float
    liquidity: float
    tick: int


class DepthStep(NamedTuple):
    """One tick of the depth array, in swap order: the running input depth
    through it, its range and input amount, and the input/output sums of
    the ticks crossed before it."""

    cum_in: float
    tick: int
    liq: float
    p_a: float
    p_b: float
    in_amt: float
    prev_in: float
    prev_out: float


def swap_frame(
    liq: DataFrame,
    tick_spacing: int | Column,
    min_liquidity: float = 0.0,
    by: list[str] = (),
) -> DataFrame:
    """Per-tick-range tradable amounts from a liquidity distribution
    (reference v3/helpers/pool_helpers.py:80-94).

    filter liquidity > min_liquidity (numerical-error guard; the reference
    uses 0 — the telescoped top tick is ±epsilon, so cross-engine
    comparisons pass a positive threshold instead) -> lead(tick) with the
    last range capped at (MAX_TICK//ts)*ts -> p = 1.0001^(t/2) -> x/y
    tradable in each range. All whole-stage-codegen column math; the only
    window is the lead.

    ``tick_spacing`` is an int for one pool or a per-pool column (many
    pools); ``by`` names the pool keys the lead window partitions by.
    Every input column but ``tick`` is carried through.
    """
    if isinstance(tick_spacing, Column):
        cap = (F.floor(F.lit(sm.MAX_TICK) / tick_spacing) * tick_spacing).cast("long")
    else:
        cap = F.lit((sm.MAX_TICK // tick_spacing) * tick_spacing)
    w = Window.partitionBy(*by).orderBy(F.col("tick").asc())
    return (
        liq.filter(F.col("liquidity") > min_liquidity)
        .withColumn("tick_a", F.col("tick"))
        .withColumn("tick_b", F.coalesce(F.lead("tick", 1).over(w), cap))
        .select(*[c for c in liq.columns if c != "tick"], "tick_a", "tick_b")
        .withColumn("p_a", F.pow(F.lit(1.0001), F.col("tick_a") / F.lit(2.0)))
        .withColumn("p_b", F.pow(F.lit(1.0001), F.col("tick_b") / F.lit(2.0)))
        .withColumn("yInTick", F.col("liquidity") * (F.col("p_b") - F.col("p_a")))
        .withColumn(
            "xInTick",
            F.col("liquidity")
            * ((F.col("p_b") - F.col("p_a")) / (F.col("p_b") * F.col("p_a"))),
        )
    )


def in_range_values(
    swap_df_rows: list[dict], price_x96: float, tick_spacing: int
) -> InRangeValues:
    """Locate the in-range row and precompute in-range capacities
    (reference v3/helpers/pool_helpers.py:96-117)."""
    tick_floor = sm.price_x96_to_tick_floor(price_x96, tick_spacing)
    hits = [r for r in swap_df_rows if r["tick_a"] <= tick_floor < r["tick_b"]]
    if len(hits) != 1:
        raise ValueError(f"Missing/Duplicate in-range tick - Size of {len(hits)}")
    row = hits[0]
    sqrt_p = price_x96 / sm.Q96
    p_a, p_b, liquidity, tick = row["p_a"], row["p_b"], row["liquidity"], row["tick_a"]
    return InRangeValues(
        sqrt_p=sqrt_p,
        in_range0=sm.get_amount0_delta(p_a, sqrt_p, liquidity),
        in_range_to_swap0=sm.get_amount1_delta(p_a, sqrt_p, liquidity),
        in_range1=sm.get_amount1_delta(p_b, sqrt_p, liquidity),
        in_range_to_swap1=sm.get_amount0_delta(p_b, sqrt_p, liquidity),
        liquidity=liquidity,
        tick=tick,
    )


def swap_in(
    swap_df_rows: list[dict],
    irv: InRangeValues,
    token_in_is_token1: bool,
    amount_in: float,
    fee_ppm: int,
    fees: bool = False,
):
    """Simulate a swap (reference v3/helpers/swap.py:41-212).

    Branch A (within current tick): pure scalar math. Branch B (cross
    ticks): bisect ``swap_depth``'s cumulative-depth array for the first
    tick that covers the trade, scalar kernel for the partial final tick.
    Returns (amt_out, (sqrt_price_last, sqrt_p, fee_dict)).

    Note: the reference's `findMax` flag is a no-op (immediately overwritten,
    v3/helpers/swap.py:99-102, SURVEY.md §8.1 Q2) — not implemented.
    """
    assert amount_in != 0, "We do not support swaps of 0"
    zero_for_one = not token_in_is_token1
    fee_dict: dict = {}

    in_range_test, in_range_to_swap = (
        (irv.in_range0, irv.in_range_to_swap0)
        if zero_for_one
        else (irv.in_range1, irv.in_range_to_swap1)
    )
    fee_frac = fee_ppm / 1e6
    swap_in_minus_fee = amount_in * (1 - fee_frac)

    if in_range_test > swap_in_minus_fee:
        # Branch A — enough liquidity in the current tick
        liquidity = irv.liquidity
        if not zero_for_one:
            sqrt_price_last = sm.get_next_price_amount1(
                irv.sqrt_p, liquidity, swap_in_minus_fee, zero_for_one
            )
            amt_out = sm.get_amount0_delta(sqrt_price_last, irv.sqrt_p, liquidity)
        else:
            sqrt_price_last = sm.get_next_price_amount0(
                irv.sqrt_p, liquidity, swap_in_minus_fee, zero_for_one
            )
            amt_out = sm.get_amount1_delta(sqrt_price_last, irv.sqrt_p, liquidity)
        if fees:
            fee_dict[irv.tick] = (amount_in * fee_frac, liquidity)
        return amt_out, (sqrt_price_last, irv.sqrt_p, fee_dict)

    # Branch B — cross ticks (vectorized precompute, reference swap.py:125-168)
    left_to_swap = amount_in - in_range_test
    left_to_swap_minus_fee = left_to_swap * (1 - fee_frac)
    if fees:
        fee_dict[irv.tick] = (in_range_test * fee_frac, irv.liquidity)

    depth = swap_depth(swap_df_rows, irv, token_in_is_token1)
    max_amount_out = depth[-1].cum_in if depth else 0.0
    assert max_amount_out > left_to_swap, "Not enough liquidity in pool"

    # first covering tick: cum_in is nondecreasing -> bisect
    idx = bisect.bisect_left(depth, left_to_swap_minus_fee, key=lambda d: d.cum_in)
    step = depth[idx]
    amt_in_to_swap_left = left_to_swap - step.prev_in
    amt_in_swapped_left_minus_fee = amt_in_to_swap_left * (1 - fee_frac)
    amt_out_prev_ticks = in_range_to_swap + step.prev_out

    if fees:
        for d in depth[:idx]:
            fee_dict[d.tick] = (d.in_amt * fee_frac, d.liq)
        fee_dict[step.tick] = (amt_in_to_swap_left * fee_frac, step.liq)

    amt_out_last_tick, sqrt_price_last = sm.final_amt_out_from_tick(
        zero_for_one, step.p_b, step.p_a, amt_in_swapped_left_minus_fee, step.liq
    )
    return amt_out_last_tick + amt_out_prev_ticks, (sqrt_price_last, irv.sqrt_p, fee_dict)


def swap_depth(
    swap_df_rows: list[dict], irv: InRangeValues, token_in_is_token1: bool
) -> list[DepthStep]:
    """The direction-ordered cumulative-depth array both swapIn paths
    bisect — the analog of the reference's cumulative sums over its cached
    createSwapDF arrays (v3/helpers/swap.py:122-143, pool_helpers.py:80-94).

    One fold over the collected swap-frame rows: keep the ticks beyond the
    in-range one in the swap's direction, nearest first, and carry running
    input/output sums. ``prev_in`` of a step is exactly ``cum_in`` of the
    step before (one left-to-right float accumulation), and the last
    ``cum_in`` is the depth max the reference-Q5 assert compares. A
    direction with no tick beyond the in-range one gives ``[]``."""
    zero_for_one = not token_in_is_token1
    in_key, out_key = ("xInTick", "yInTick") if zero_for_one else ("yInTick", "xInTick")
    if zero_for_one:
        oor = [r for r in swap_df_rows if r["tick_a"] < irv.tick]
    else:
        oor = [r for r in swap_df_rows if r["tick_a"] > irv.tick]
    oor.sort(key=lambda r: r["tick_a"], reverse=zero_for_one)
    depth, cum_in, prev_out = [], 0.0, 0.0
    for r in oor:
        prev_in, cum_in = cum_in, cum_in + r[in_key]
        fields = (r["tick_a"], r["liquidity"], r["p_a"], r["p_b"], r[in_key])
        depth.append(DepthStep(cum_in, *fields, prev_in, prev_out))
        prev_out += r[out_key]
    return depth


_DEPTH_SCHEMA = (
    "darr array<struct<cum_in:double,tick:bigint,liq:double,p_a:double,"
    "p_b:double,in_amt:double,prev_in:double,prev_out:double>>, max_cum double"
)


def _depth_literal(depth: list[DepthStep]) -> Column:
    """The depth array and its max (NULL when empty, as ``max`` over no
    rows) as ONE literal struct column: a JSON string read by ``from_json``,
    which the optimizer folds into a constant. Python's float repr and
    Spark's JSON parser round-trip every double exactly."""
    doc = {
        "darr": [d._asdict() for d in depth],
        "max_cum": depth[-1].cum_in if depth else None,
    }
    return F.from_json(F.lit(json.dumps(doc)), _DEPTH_SCHEMA)


_FEE_TYPE = "array<struct<tick:bigint,fee:double,liquidity:double>>"


def _fee_entry(tick: Column, fee: Column, liquidity: Column) -> Column:
    return F.struct(
        tick.cast("long").alias("tick"), fee.alias("fee"), liquidity.alias("liquidity")
    )


def _quote_inputs(a_in: Column, in_range_test: Column, one_minus_fee: Column) -> dict:
    """The per-quote amounts both branches start from; ``__axis`` is the
    post-fee amount left after the in-range tick, which the covering-row
    search compares with the cumulative depth."""
    left = a_in - in_range_test
    return {
        "__swap_in_minus_fee": a_in * one_minus_fee,
        "__left": left,
        "__axis": left * one_minus_fee,
    }


def _price_quotes(
    q: DataFrame,
    keep: list[str],
    amount_col: str,
    zero_for_one: bool,
    fees: bool,
    *,
    irv_tick: Column,
    irv_liq: Column,
    sqrt_p: Column,
    in_range_test: Column,
    in_range_to_swap: Column,
    one_minus_fee: Column,
    fee_frac: Column,
) -> DataFrame:
    """swapIn's branch A/B pricing (reference v3/helpers/swap.py:41-212)
    for quotes that already carry their covering depth row — the shared
    tail of ``quote_ladder`` and ``quote_ladder_multi``.

    ``q`` holds ``keep``, the ``_quote_inputs`` columns and the covering
    row's __tick/__liq/__p_a/__p_b/__prev_in/__prev_out, plus __max_cum
    (and __prev_fees with ``fees``). The in-range scalars are literals for
    one pool and columns for many; a NULL ``irv_tick`` marks an unpriced
    quote (NULL branch). Output: ``keep`` + amt_out, sqrt_price_last,
    branch, sufficient (+ fees). Operand order follows the scalar kernels,
    so results are bit-identical to ``swap_in``."""
    is_a = in_range_test > F.col("__swap_in_minus_fee")
    out_a, spl_a = sm.swap_step_col(
        zero_for_one, sqrt_p, sqrt_p, F.col("__swap_in_minus_fee"), irv_liq
    )
    # final_amt_out_from_tick on the covering tick
    residual = F.col("__left") - F.col("__prev_in")
    out_last, spl_b = sm.swap_step_col(
        zero_for_one, F.col("__p_b"), F.col("__p_a"), residual * one_minus_fee, F.col("__liq")
    )
    # same association as the scalar path: last + (in_range_to_swap + prev)
    out_b = out_last + (in_range_to_swap + F.col("__prev_out"))
    sufficient = is_a | (
        F.col("__tick").isNotNull() & (F.col("__max_cum") > F.col("__left"))
    )
    # a NULL amount (or unpriced pool) is not sufficient: coalesce to false
    res = q.withColumn("sufficient", F.coalesce(sufficient, F.lit(False)))
    insufficient = ~F.col("sufficient")
    res = res.withColumns(
        {
            "amt_out": F.when(insufficient, F.lit(None).cast("double"))
            .when(is_a, out_a)
            .otherwise(out_b),
            "sqrt_price_last": F.when(insufficient, F.lit(None).cast("double"))
            .when(is_a, spl_a)
            .otherwise(spl_b),
            "branch": F.when(irv_tick.isNull(), F.lit(None).cast("string"))
            .when(is_a, F.lit("A"))
            .otherwise(F.lit("B")),
        }
    )
    out_cols = [*keep, "amt_out", "sqrt_price_last", "branch", "sufficient"]
    if fees:
        # scalar fee_dict parity (swap_in fees=True): branch A charges the
        # whole amount at the in-range tick; branch B charges the in-range
        # capacity there, each crossed tick's full tradable input, and the
        # residual at the covering tick — identical operand order per entry
        fee_a = F.array(_fee_entry(irv_tick, F.col(amount_col) * fee_frac, irv_liq))
        fee_b = F.concat(
            F.array(_fee_entry(irv_tick, in_range_test * fee_frac, irv_liq)),
            F.col("__prev_fees"),
            F.array(_fee_entry(F.col("__tick"), residual * fee_frac, F.col("__liq"))),
        )
        res = res.withColumn(
            "fees",
            F.when(insufficient, F.lit(None).cast(_FEE_TYPE))
            .when(is_a, fee_a)
            .otherwise(fee_b),
        )
        out_cols.append("fees")
    return res.select(*out_cols)


def quote_ladder(
    swap_df: list[dict] | None,
    irv: InRangeValues,
    token_in_is_token1: bool,
    amounts: DataFrame,
    fee_ppm: int,
    amount_col: str = "amount_in",
    fees: bool = False,
    depth: list[DepthStep] | None = None,
) -> DataFrame:
    """Batched swapIn: quote MANY input amounts against one swap frame in a
    single distributed plan — the batch-of-swaps generalization SURVEY.md
    §2.9 calls for, with zero driver loops.

    ``swap_df`` is the collected swap-frame rows (``Pool.calc_swap_df``'s
    memo); ``depth=`` takes their ``swap_depth`` fold instead, already
    built for this direction. The scalar path's bisect over that array
    (reference v3/helpers/swap.py:144-168) stays an ARRAY bisect: the
    array and its max enter the plan as ONE literal column, and the
    covering-row search — bisect_left == "first cum >= axis" — is a
    per-amount ``filter``+``get(0)`` column expression. All swap math runs
    as column expressions with the same operation order as the scalar
    kernels, so results are bit-identical to looping ``swap_in`` (pinned
    in tests).

    Scale shape: amounts can be arbitrarily large — the amount side is ONE
    narrow projection: no join, no broadcast, no window, no shuffle
    (``quote_ladder_multi`` is the many-pool form, partitioned by pool
    keys). Insufficient-depth quotes get sufficient=false and NULL outputs
    instead of the scalar assert; so do NULL amounts, and every branch-B
    amount in a direction with no tick beyond the in-range one.

    Output: all ``amounts`` columns + amt_out, sqrt_price_last, branch
    ('A'|'B'), sufficient; with ``fees=True`` also ``fees`` — an
    array<struct<tick,fee,liquidity>> of per-tick LP fee attribution,
    value-identical to the scalar path's fee_dict (reference
    v3/helpers/swap.py:141-142,148-149,180-183): the in-range tick's fee,
    one entry per fully-crossed tick, and the partial covering tick. In
    fee mode the crossed-tick entries come from a ``filter``+``transform``
    over the same depth array — still one row per amount end-to-end.
    """
    zero_for_one = not token_in_is_token1
    fee_frac = fee_ppm / 1e6
    in_range_test, in_range_to_swap = (
        (irv.in_range0, irv.in_range_to_swap0)
        if zero_for_one
        else (irv.in_range1, irv.in_range_to_swap1)
    )
    if depth is None:
        depth = swap_depth(swap_df, irv, token_in_is_token1)
    depth_lit = _depth_literal(depth)
    amt = amounts.withColumns(
        _quote_inputs(F.col(amount_col), F.lit(in_range_test), F.lit(1 - fee_frac))
    )

    axis = F.col("__axis")
    # covering row = first depth element with cum_in >= axis (bisect_left);
    # F.get returns NULL past the end — the insufficient case
    cov = F.get(F.filter(depth_lit["darr"], lambda d: axis <= d["cum_in"]), F.lit(0))
    depth_cols = ["tick", "liq", "p_a", "p_b", "prev_in", "prev_out"]
    proj = [
        *[F.col(c) for c in amt.columns],
        depth_lit["max_cum"].alias("__max_cum"),
        *[cov[c].alias(f"__{c}") for c in depth_cols],
    ]
    if fees:
        # crossed ticks = every depth element strictly below the axis,
        # re-sorted by tick (the fee struct's first field) like the scalar
        # fee_dict's key order
        proj.append(
            F.array_sort(
                F.transform(
                    F.filter(depth_lit["darr"], lambda d: d["cum_in"] < axis),
                    lambda d: _fee_entry(d["tick"], d["in_amt"] * F.lit(fee_frac), d["liq"]),
                )
            ).alias("__prev_fees")
        )
    return _price_quotes(
        amt.select(*proj),
        amounts.columns,
        amount_col,
        zero_for_one,
        fees,
        irv_tick=F.lit(irv.tick),
        irv_liq=F.lit(irv.liquidity),
        sqrt_p=F.lit(irv.sqrt_p),
        in_range_test=F.lit(in_range_test),
        in_range_to_swap=F.lit(in_range_to_swap),
        one_minus_fee=F.lit(1 - fee_frac),
        fee_frac=F.lit(fee_frac),
    )


def quote_ladder_multi(
    mb: DataFrame,
    swaps: DataFrame,
    factory: DataFrame,
    amounts: DataFrame,
    as_of: float,
    zero_for_one: bool,
    by: list[str] = ("chain_name", "address"),
    amount_col: str = "amount_in",
    fees: bool = False,
) -> DataFrame:
    """Batched swapIn across MANY pools in one distributed plan — the full
    scale generalization: every per-pool scalar the single-pool path
    collects (price, tick floor, in-range capacities, fee, tick spacing)
    is derived as a column, so nothing is collected per pool and every
    window partitions by the pool keys.

    Inputs: mb (cast, with as_of), swaps (with as_of; sqrtPriceX96 string),
    factory with the pool keys + tickSpacing/fee (strings ok), amounts with
    the pool keys + ``amount_col``. One direction per call (``zero_for_one``
    — amount rows quote token0-in when true, token1-in when false).

    It shares ``swap_frame``, the swap_math column kernels and the branch
    A/B pricing with ``quote_ladder``; only the plan differs (a join and a
    per-quote aggregate on pool keys instead of a literal depth array).

    Output: amounts columns + amt_out, sqrt_price_last, branch, sufficient
    (+ fees with ``fees=True``). Bit-parity with looping Pool.swap_in per
    pool is pinned in tests.
    """
    by = list(by)

    # pool metadata (J5 as a real dimension join, broadcast — factory is
    # the smallest table in the system)
    meta = factory.select(
        *[F.col(c) for c in by],
        F.col("tickSpacing").cast("long").alias("__ts"),
        F.col("fee").cast("long").alias("__fee"),
    )

    # per-pool price in force strictly before as_of (J3 per key: max_by)
    price = (
        swaps.filter(F.col("as_of") < F.lit(float(as_of)))
        .groupBy(*by)
        .agg(
            F.max_by(
                F.col("sqrtPriceX96").cast("double"),
                F.struct(F.col("as_of"), F.col("log_index")),
            ).alias("__price_x96")
        )
    )

    # per-pool swap frame (lead window partitioned by pool)
    frame = swap_frame(
        liquidity_distribution(mb, as_of, by).join(meta, by), F.col("__ts"), by=by
    )

    # per-pool in-range values (the irv scalars as columns):
    # tick floor exactly as the scalar kernel: floor(log((p/Q96)^2)/log(1.0001))
    # then floor-div to spacing (price_x96_to_tick_floor)
    sp = F.col("__price_x96") / F.lit(float(sm.Q96))
    tick_real = F.log(sp * sp) / F.lit(math.log(1.0001))
    pool_sp = price.withColumn("__sqrt_p", sp).withColumn(
        "__tick_floor_raw", F.floor(tick_real).cast("long")
    )

    # ONE pass over the frame (r11 plan diet): broadcast the per-pool
    # price row in, mark the unique in-range tick, and window-propagate
    # every irv scalar to all rows of the pool. The previous
    # frame -> irv -> join-back diamond recomputed the whole frame
    # subtree (mb scan + liquidity windows + lead window) once per
    # branch; now the depth branch and the per-pool scalar row both read
    # the same single derivation. max(when(in_range, e)) over the
    # pool partition copies the exact in-range-row value (ticks
    # partition the line, so at most one row qualifies) — bit parity
    # with the join formulation.
    in_range = (F.col("tick_a") <= F.col("__tick_floor")) & (
        F.col("__tick_floor") < F.col("tick_b")
    )
    w_pool = Window.partitionBy(*by)

    def _prop(e, name):
        return F.max(F.when(in_range, e)).over(w_pool).alias(name)

    # in_range_values' capacities for this direction: token0 in measures
    # from the range's lower price, token1 in from its upper price
    edge = F.col("p_a" if zero_for_one else "p_b")
    liq, sqrt_p = F.col("liquidity"), F.col("__sqrt_p")
    d0 = sm.amount0_delta_col(edge, sqrt_p, liq)
    d1 = sm.amount1_delta_col(edge, sqrt_p, liq)
    irt, irts = (d0, d1) if zero_for_one else (d1, d0)
    fr = (
        frame.join(F.broadcast(pool_sp), by)
        .withColumn(
            "__tick_floor",
            (F.floor(F.col("__tick_floor_raw") / F.col("__ts")) * F.col("__ts")).cast(
                "long"
            ),
        )
        .select(
            "*",
            _prop(F.col("tick_a"), "__irv_tick"),
            _prop(F.col("liquidity"), "__irv_liq"),
            _prop(irt, "__irt"),
            _prop(irts, "__irts"),
        )
        # pools whose price row lands outside every held tick had no irv
        # row before (inner join) — same drop here
        .filter(F.col("__irv_tick").isNotNull())
    )
    irv_cols = ["__irv_tick", "__irv_liq", "__sqrt_p", "__fee", "__irt", "__irts"]
    # per-pool direction-ordered depth with cumulative/preceding sums,
    # PLUS the per-pool in-range "anchor" row, in the SAME pass (r12 plan
    # diet step 2): the irv scalars are already columns on every fr row,
    # so the amounts side no longer needs its own irv join — it joins the
    # depth rows once, on the pool keys alone, and the anchor row keeps
    # every priced pool joinable even when no out-of-range depth exists
    # in the direction (branch-A-only quotes). The window sums skip the
    # anchor via NULL-ignoring when(): its __cum_in is NULL, so the
    # covering min_by and the fee collect never select it — exactly the
    # all-NULL depth row the old left join produced.
    in_key, out_key = ("xInTick", "yInTick") if zero_for_one else ("yInTick", "xInTick")
    if zero_for_one:
        directional = F.col("tick_a") < F.col("__irv_tick")
        order = F.col("tick_a").desc()
    else:
        directional = F.col("tick_a") > F.col("__irv_tick")
        order = F.col("tick_a").asc()
    in_dir = F.when(directional, F.col(in_key))
    out_dir = F.when(directional, F.col(out_key))
    w = Window.partitionBy(*by).orderBy(order)
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # per-pool max cum rides along in the same partitioned window pass
    # (positive tick amounts: max(cum) == full-frame ordered sum) — no
    # separate aggregate, no persist, no extra join. The anchor sorts
    # first in either direction (its tick is the directional extreme),
    # so directional prev-sums are unchanged by its presence.
    depth = fr.filter(directional | in_range).select(
        *by,
        *irv_cols,
        F.when(directional, F.col("tick_a")).alias("__tick"),
        F.when(directional, F.col("liquidity")).alias("__liq"),
        F.when(directional, F.col("p_a")).alias("__p_a"),
        F.when(directional, F.col("p_b")).alias("__p_b"),
        in_dir.alias("__in_amt"),
        F.sum(in_dir).over(w_cum).alias("__cum_in"),
        F.coalesce(F.sum(in_dir).over(w_prev), F.lit(0.0)).alias("__prev_in"),
        F.coalesce(F.sum(out_dir).over(w_prev), F.lit(0.0)).alias("__prev_out"),
        F.sum(in_dir).over(w_all).alias("__max_cum"),
    )

    # amount side: ONE join — pool keys only; per-quote scalars are
    # derived from the joined irv columns (identical on every row of the
    # pool, so F.first in the aggregate is deterministic)
    one_minus_fee = F.lit(1.0) - F.col("__fee") / F.lit(1e6)
    amt = amounts.withColumn("__rid", F.monotonically_increasing_id())
    depth_cols = ["__tick", "__liq", "__p_a", "__p_b", "__prev_in", "__prev_out"]
    depth_r = depth.select(
        *[F.col(k).alias(f"__d_{k}") for k in by],
        *irv_cols,
        *depth_cols,
        "__in_amt",
        "__cum_in",
        "__max_cum",
    )
    cond = F.lit(True)
    for k in by:
        cond = cond & (amt[k] == depth_r[f"__d_{k}"])
    # LEFT join: quotes for pools with no depth/anchor rows (no factory
    # row, no price before as_of, no unambiguous in-range tick — states
    # where the scalar path raises) keep flowing with NULL scalars and
    # resolve to sufficient=false + NULL outputs, so EVERY input amount
    # row comes back without a second pass over the frame subtree
    cand = amt.join(depth_r, cond, "left").withColumns(
        _quote_inputs(F.col(amount_col), F.col("__irt"), one_minus_fee)
    )
    # the covering row is picked inside the aggregate in BOTH modes now:
    # qual is NULL on non-covering rows (and on the anchor, whose
    # __cum_in is NULL), and min_by/max_by skip NULL ordering keys
    qual = F.when(F.col("__axis") <= F.col("__cum_in"), F.col("__cum_in"))
    fee_frac = F.col("__fee") / F.lit(1e6)
    fee_aggs = []
    if fees:
        crossed = _fee_entry(F.col("__tick"), F.col("__in_amt") * fee_frac, F.col("__liq"))
        fee_aggs.append(
            F.array_sort(
                F.collect_list(F.when(F.col("__cum_in") < F.col("__axis"), crossed))
            ).alias("__prev_fees")
        )
    scalar_cols = [*amounts.columns, *irv_cols, "__swap_in_minus_fee", "__left"]
    joined = cand.groupBy("__rid").agg(
        *[F.first(c).alias(c) for c in scalar_cols],
        *[F.min_by(c, qual).alias(c) for c in depth_cols],
        F.max("__max_cum").alias("__max_cum"),
        *fee_aggs,
    )
    # every-input-row contract holds WITHOUT a union: the LEFT candidate
    # join carries unpriceable quotes through with NULL scalars, which
    # resolve to sufficient=false, NULL outputs, NULL branch
    return _price_quotes(
        joined,
        amounts.columns,
        amount_col,
        zero_for_one,
        fees,
        irv_tick=F.col("__irv_tick"),
        irv_liq=F.col("__irv_liq"),
        sqrt_p=F.col("__sqrt_p"),
        in_range_test=F.col("__irt"),
        in_range_to_swap=F.col("__irts"),
        one_minus_fee=one_minus_fee,
        fee_frac=fee_frac,
    )
