"""Uniswap v3 scalar math kernels (driver-side Python) and column variants.

Semantics follow the reference's float64 approximation of the Solidity
fixed-point math (reference v3/helpers/swap_math.py:7-22,74-153, which cites
Uniswap/v3-core SqrtPriceMath.sol / SwapMath.sol). These are deliberately
driver-side scalars: in the reference every call operates on values already
extracted from O(#ticks) frames (SURVEY.md §2.9), and the same holds here —
they never appear inside a per-row distributed path. For batched simulation
over many swaps, the ``*_col`` variants below write the same formulas as
column expressions with the same operation order, so a batched quote is
bit-identical to the scalar kernel on the same operands.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

Q96 = 2**96
MAX_TICK = 887272


def price_x96_to_tick(price: float) -> float:
    """sqrtPriceX96 -> (non-integer) tick: tick = log((p/Q96)^2)/log(1.0001)
    (reference v3/helpers/swap_math.py:7-13)."""
    return math.log((price / Q96) ** 2) / math.log(1.0001)


def price_x96_to_tick_floor(price: float, tick_spacing: int) -> int:
    """sqrtPriceX96 -> tick floored to the pool's tick spacing
    (reference v3/helpers/swap_math.py:16-22). Python ``//`` floor-division
    semantics (rounds toward -inf) are load-bearing for negative ticks."""
    tick = price_x96_to_tick(price)
    return (int(math.floor(tick)) // tick_spacing) * tick_spacing


def get_amount0_delta(ratio_a: float, ratio_b: float, liq: float) -> float:
    """amount0 between two sqrt prices at constant liquidity:
    L * (rb - ra) / (rb * ra), operands ordered ascending
    (reference v3/helpers/swap_math.py:101-108)."""
    if ratio_a > ratio_b:
        ratio_a, ratio_b = ratio_b, ratio_a
    return liq * ((ratio_b - ratio_a) / (ratio_b * ratio_a))


def get_amount1_delta(ratio_a: float, ratio_b: float, liq: float) -> float:
    """amount1 between two sqrt prices: L * (rb - ra)
    (reference v3/helpers/swap_math.py:111-117)."""
    if ratio_a > ratio_b:
        ratio_a, ratio_b = ratio_b, ratio_a
    return liq * (ratio_b - ratio_a)


def get_next_price_amount0(ratio_a: float, liq: float, amount: float, add: bool) -> float:
    """Next sqrt price after swapping `amount` of token0
    (reference v3/helpers/swap_math.py:120-129)."""
    denom = liq + amount * ratio_a if add else liq - amount * ratio_a
    return (liq * ratio_a) / denom


def get_next_price_amount1(ratio_a: float, liq: float, amount: float, add: bool) -> float:
    """Next sqrt price after swapping `amount` of token1
    (reference v3/helpers/swap_math.py:132-141). Note the reference's
    inverted `add` convention: not add -> ratio_a + amount/L."""
    if not add:
        return ratio_a + amount / liq
    return ratio_a - amount / liq


def get_next_sqrt_price(ratio_a: float, liq: float, amount: float, zero_for_one: bool) -> float:
    """Dispatch by direction (reference v3/helpers/swap_math.py:144-153)."""
    if zero_for_one:
        return get_next_price_amount0(ratio_a, liq, amount, zero_for_one)
    return get_next_price_amount1(ratio_a, liq, amount, zero_for_one)


def final_amt_out_from_tick(
    zero_for_one: bool,
    sqrt_p_last_top: float,
    sqrt_p_last_bottom: float,
    amt_in_left_minus_fee: float,
    liquidity: float,
):
    """Partial consumption of the final covering tick — computeSwapStep()
    analog (reference v3/helpers/swap_math.py:74-98)."""
    if zero_for_one:
        sqrt_p_next = get_next_price_amount0(
            sqrt_p_last_top, liquidity, amt_in_left_minus_fee, zero_for_one
        )
        amt_out = get_amount1_delta(sqrt_p_next, sqrt_p_last_top, liquidity)
    else:
        sqrt_p_next = get_next_price_amount1(
            sqrt_p_last_bottom, liquidity, amt_in_left_minus_fee, zero_for_one
        )
        amt_out = get_amount0_delta(sqrt_p_next, sqrt_p_last_bottom, liquidity)
    return amt_out, sqrt_p_next


# -- column variants (same operand order as the scalars above) --------------

def amount0_delta_col(ratio_a: Column, ratio_b: Column, liq: Column) -> Column:
    """get_amount0_delta as a column; greatest/least order the operands."""
    lo, hi = F.least(ratio_a, ratio_b), F.greatest(ratio_a, ratio_b)
    return liq * ((hi - lo) / (hi * lo))


def amount1_delta_col(ratio_a: Column, ratio_b: Column, liq: Column) -> Column:
    """get_amount1_delta as a column."""
    return liq * (F.greatest(ratio_a, ratio_b) - F.least(ratio_a, ratio_b))


def next_price_amount0_col(ratio_a: Column, liq: Column, amount: Column) -> Column:
    """get_next_price_amount0 with add=True (token0 in)."""
    return (liq * ratio_a) / (liq + amount * ratio_a)


def next_price_amount1_col(ratio_a: Column, liq: Column, amount: Column) -> Column:
    """get_next_price_amount1 with add=False (token1 in)."""
    return ratio_a + amount / liq


def swap_step_col(
    zero_for_one: bool, top: Column, bottom: Column, amount: Column, liq: Column
) -> tuple[Column, Column]:
    """final_amt_out_from_tick as columns: (amt_out, sqrt_price_next). With
    ``top`` = ``bottom`` = the current sqrt price it is also swapIn's
    branch A, the swap that stays inside the current tick."""
    if zero_for_one:
        nxt = next_price_amount0_col(top, liq, amount)
        return amount1_delta_col(nxt, top, liq), nxt
    nxt = next_price_amount1_col(bottom, liq, amount)
    return amount0_delta_col(nxt, bottom, liq), nxt
