"""Price series and datetime→block helpers.

Reference: v3/helpers/pool_helpers.py:134-204 (getPriceSeries),
v3/helpers/pool_helpers.py:44-60 (dtToBN). Composite pipeline:
distinct (A7) -> deterministic dedup-last (A2) -> tumbling-bucket agg (A3,
with median gas A6) -> forward fill (W3) -> as-of join (J2). The first two
steps build one "clock" per side — ``block_clock`` (chain) and
``tick_clock`` (pool), one row per block timestamp — that do not depend on
``start_time``, so a session can cache them; ``clock_series`` is the rest.

Parity notes:
- `block_clock` is CHAIN-wide (not pool-filtered) while `tick_clock` is
  pool-filtered — intentional reference asymmetry (SURVEY.md §8.1 Q4): block
  numbers advance chain-wide even in buckets where the pool didn't trade;
  the as-of join backfills the tick.
- the reference's group_by(ts).last() tie-break is file order
  (nondeterministic); we pin (block_number, transaction_index, log_index)
  (SURVEY.md §8.1 Q3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ops import asof_join, dedup_last, ffill, resample

_TIEBREAK = ["block_number", "transaction_index", "log_index"]


def block_clock(swaps: DataFrame) -> DataFrame:
    """The chain's block clock: latest block number per block timestamp
    (reference pool_helpers.py:136-146, the distinct -> last part of its
    bn series). Input: chain-filtered swaps (NOT pool-filtered — Q4)."""
    df = swaps.select("block_timestamp", "block_number").distinct()
    return dedup_last(df, keys=["block_timestamp"], order=["block_number"])


def tick_clock(swaps: DataFrame) -> DataFrame:
    """ONE pool's tick clock: its last swap per block timestamp
    (reference pool_helpers.py:153-175) with tick, gas_price and gas_used,
    plus the tiebreak columns that pin the last swap of a bucket. Carries
    the gas columns either way, so one clock serves ``gas`` off and on.
    Caller pre-filters chain+address."""
    gas = [F.col(c).cast("double").alias(c) for c in ("gas_price", "gas_used")]
    df = swaps.select(
        "block_timestamp", F.col("tick").cast("long").alias("tick"), *gas, *_TIEBREAK
    )
    return dedup_last(df, keys=["block_timestamp"], order=_TIEBREAK)


def _since(clock: DataFrame, start_time) -> DataFrame:
    # on the dedup key, so it commutes with the clock's dedup (and Catalyst
    # still pushes it into the scan of an uncached clock)
    return clock.filter(F.col("block_timestamp") >= F.lit(start_time))


def _bn_buckets(blocks: DataFrame, start_time, every: str) -> DataFrame:
    return resample(
        _since(blocks, start_time),
        "block_timestamp",
        every,
        [F.max("block_number").alias("block_number")],
    )


def _tick_buckets(ticks: DataFrame, start_time, every: str, gas: bool) -> DataFrame:
    # "last tick in bucket" needs an order — max_by over the tiebreak
    ord_struct = F.struct(*[F.col(c) for c in _TIEBREAK])
    aggs = [F.max_by(F.col("tick"), ord_struct).alias("tick")]
    if gas:
        aggs += [
            F.percentile(F.col("gas_price"), F.lit(0.5)).alias("gas_price"),
            F.percentile(F.col("gas_used"), F.lit(0.5)).alias("gas_used"),
        ]
    out = resample(_since(ticks, start_time), "block_timestamp", every, aggs)
    if gas:
        out = ffill(out, ["gas_price", "gas_used", "tick"], order=["bucket_ts"])
    return out


def clock_series(
    blocks: DataFrame, ticks: DataFrame, start_time, every: str = "6h", gas: bool = False
) -> DataFrame:
    """The price series from the two clocks (``block_clock``,
    ``tick_clock``): both cut at ``start_time`` and resampled, then the
    block buckets ⟕asof the tick buckets (reference
    pool_helpers.py:202-204). A caller that keeps the clocks cached pays
    neither the chain scan nor the dedups again."""
    bn = _bn_buckets(blocks, start_time, every)
    tk = _tick_buckets(ticks, start_time, every, gas)
    bn, tk = [f.withColumnRenamed("bucket_ts", "block_timestamp") for f in (bn, tk)]
    return asof_join(bn, tk, on="block_timestamp")


def price_series(
    chain_swaps: DataFrame,
    pool_swaps: DataFrame,
    start_time,
    every: str = "6h",
    gas: bool = False,
) -> DataFrame:
    """Block buckets ⟕asof tick buckets on the bucket timestamp
    (reference pool_helpers.py:202-204): ``clock_series`` over the two
    clocks of these swaps. Output columns:
    (block_timestamp, block_number, tick[, gas_price, gas_used])."""
    return clock_series(
        block_clock(chain_swaps), tick_clock(pool_swaps), start_time, every, gas
    )


def bn_at_date(swaps: DataFrame, dt) -> int | None:
    """Max block number at/after a datetime (reference pool_helpers.py:44-60
    — filter ts >= dt, max(block_number))."""
    row = (
        swaps.filter(F.col("block_timestamp") >= F.lit(dt))
        .agg(F.max("block_number").alias("bn"))
        .first()
    )
    return row["bn"] if row else None


def tick_to_price(tick_col, decimal_adjustment: float = 1.0, invert: bool = False):
    """Price-space conversion: 1.0001^tick scaled by the token decimal
    adjustment (reference notebook Crosschain_Liquidity_GIF.ipynb cell 12:
    ``1.0001 ** tick * 1e12`` for the USDC/WETH pools; ``invert`` flips to
    the token1/token0 quote). Pure column math — composes into any plan."""
    p = F.pow(F.lit(1.0001), tick_col) * F.lit(float(decimal_adjustment))
    return (F.lit(1.0) / p) if invert else p


def liquidity_price_frames(
    mb: DataFrame,
    frames: list[float],
    decimal_adjustment: float = 1.0,
    invert: bool = False,
) -> DataFrame:
    """The notebook's animation pipeline ending in PRICE space: multi-frame
    liquidity distributions (one plan, no per-frame re-scan) with each tick
    converted to a price and liquidity normalized to the frame max — the
    exact frame data cell 12 plots. Output: (frame_as_of, tick, price,
    liquidity, liquidity_norm)."""
    from pyspark.sql import Window

    from .liquidity import liquidity_timeline

    tl = liquidity_timeline(mb, frames)
    w = Window.partitionBy("frame_as_of")
    return tl.withColumn(
        "price", tick_to_price(F.col("tick"), decimal_adjustment, invert)
    ).withColumn("liquidity_norm", F.col("liquidity") / F.max("liquidity").over(w))


def tick_twap(
    swaps: DataFrame,
    start_time,
    end_time,
) -> DataFrame:
    """Uniswap-oracle-semantics TWAP over the swap series: the
    time-weighted average TICK between ``start_time`` and ``end_time``
    (each swap's tick holds until the next swap), then price =
    1.0001^avg_tick — the geometric-mean price, exactly what the
    on-chain observations oracle accumulates (tickCumulative deltas).

    Caller pre-filters chain+address (same contract as tick_clock).
    Integration is integer micros x integer tick — exact — with one
    float division and one pow at the end. Returns a 1-row frame
    (avg_tick, twap_price, total_duration_us, n_swaps); empty/singleton
    windows return NULL metrics.
    """
    from ..ops import time_weighted_avg

    # one event per timestamp, the last swap (tick_clock); the window is on
    # the dedup key, so cutting after the dedup keeps the same rows
    df = tick_clock(swaps).filter(
        (F.col("block_timestamp") >= F.lit(start_time))
        & (F.col("block_timestamp") < F.lit(end_time))
    )
    twa = time_weighted_avg(
        df.withColumn("__one", F.lit(1)),
        "block_timestamp",
        "tick",
        by=["__one"],
        decimals=0,  # ticks are integers: exact at scale 1
        out="avg_tick",
    )
    return twa.select(
        "avg_tick",
        F.pow(F.lit(1.0001), F.col("avg_tick")).alias("twap_price"),
        "total_duration_us",
        F.col("n_obs").alias("n_swaps"),
    )
