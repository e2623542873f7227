"""Liquidity distribution (createLiq) — the flagship composite pipeline:
group-sums (A1) -> coalescing full-outer join (J1) -> ordered prefix sum
(W1). Reference: v3/helpers/swap_math.py:25-71.

Spark-first plan shape:
  - the two group-sums are hash aggregates with map-side partial agg;
  - the outer join is key-coalescing (USING join) on `tick`;
  - the prefix sum is a window. With ``by`` pool keys (chain, address)
    every group-sum, the join and the window partition by them, so the
    distributions of MANY pools come from one plan — one shuffle per agg,
    one window, all stages parallel across pools, which is how this runs
    at 100 TB. Without ``by`` (a single pool) the window is unpartitioned:
    the frame is O(#initialized ticks) ≈ 10²-10⁴ rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

# liquidity_timeline runs the fused plan up to this many frames, the grid
# plan above it
WIDE_THRESHOLD = 64


def _running_sum(by: list[str], order: str):
    return (
        Window.partitionBy(*by)
        .orderBy(F.col(order).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def liquidity_distribution(
    mb: DataFrame, as_of: float | None = None, by: list[str] = ()
) -> DataFrame:
    """(*by, tick, liquidity) distribution as of ``as_of`` (strict <: "value
    before the transaction at that index", SURVEY §8.2) for a mint/burn
    frame (columns: amount double, type_of_event double, tick_lower/upper
    long, as_of double). ``by`` names the pool keys when ``mb`` holds many
    pools; every pool's distribution then comes from the same plan.

    1. +amount*type_of_event grouped on tick_lower  (liquidity added at lower)
    2. -amount*type_of_event grouped on tick_upper  (removed at upper)
    3. full-outer coalescing join on tick, fill 0, add
    4. sort by tick, prefix sum
    (reference v3/helpers/swap_math.py:36-69)
    """
    by = list(by)
    base = mb if as_of is None else mb.filter(F.col("as_of") < F.lit(float(as_of)))
    signed = F.col("amount") * F.col("type_of_event")

    def net(bound: str, name: str, delta) -> DataFrame:
        return (
            base.withColumn(name, delta)
            .groupBy(*by, F.col(bound).alias("tick"))
            .agg(F.sum(name).alias(name))
            .filter(F.col(name) != 0)
        )

    joined = (
        net("tick_lower", "liquidity_lower", signed)
        .join(net("tick_upper", "liquidity_upper", -signed), [*by, "tick"], "full_outer")
        .na.fill(0, subset=["liquidity_lower", "liquidity_upper"])
        .withColumn("delta", F.col("liquidity_lower") + F.col("liquidity_upper"))
    )
    return joined.select(
        *by, "tick", F.sum("delta").over(_running_sum(by, "tick")).alias("liquidity")
    )


def liquidity_timeline(
    mb: DataFrame, frame_as_ofs: list[float], by: list[str] = ()
) -> DataFrame:
    """Liquidity distribution at MANY as-of frames in one distributed plan
    — the scale re-expression of the crosschain animation notebook, which
    loops slice(i,1) over a resampled series re-running createLiq per frame
    (reference Crosschain_Liquidity_GIF.ipynb cell 12).

    Two physical plans, same semantics (each event's two signed tick
    deltas contribute to every frame strictly after its as_of — SURVEY
    §8.2's strict-< convention):

    - **fused** (#frames <= ``WIDE_THRESHOLD``): ONE hash aggregation
      computes, per tick, the frame-axis cumulative net delta for every
      frame as a conditional sum column (``sum(when(as_of < frame_i,
      delta))`` — the "cumulative" is free because an event counts toward
      all later frames), then explodes the columns to rows and runs the
      single tick-axis cumsum window. Exactly TWO exchanges (group-by,
      window) regardless of #frames — the floor-dominant shape for the
      animation workload's dozens of frames.
    - **grid** (#frames > ``WIDE_THRESHOLD``): tag each delta with its
      first covering frame, group once per (frame, tick), densify with a
      frame x tick grid, and stack two prefix-sum windows (frame axis,
      then tick axis). O(#frames) rows instead of O(#frames) agg columns
      — the right trade once the conditional-sum row width outgrows the
      aggregation buffer.

    Output: (frame_as_of, tick, liquidity). With ``by`` (e.g. chain+pool),
    every aggregation/window additionally partitions by those keys.
    """
    by = list(by or [])
    frames = sorted(float(x) for x in frame_as_ofs)
    if not frames:
        # zero frames -> empty result with the contract schema (the fused
        # plan would otherwise build a zero-aggregate groupBy, which
        # GroupedData.agg rejects)
        return (
            mb.select(
                *by,
                F.lit(0.0).alias("frame_as_of"),
                F.col("tick_lower").alias("tick"),
                F.lit(0.0).alias("liquidity"),
            )
            .filter(F.lit(False))
        )
    deltas = _tick_deltas(mb, by)
    if len(frames) <= WIDE_THRESHOLD:
        dense = _timeline_fused(deltas, frames, by)
    else:
        dense = _timeline_grid(deltas, frames, by)
    return dense.select(
        *by,
        "frame_as_of",
        "tick",
        F.sum("net").over(_running_sum([*by, "frame_as_of"], "tick")).alias("liquidity"),
    )


def _tick_deltas(mb: DataFrame, by: list[str]) -> DataFrame:
    """Each event's two signed tick deltas as rows (*by, as_of, tick, delta):
    +amount*type_of_event at tick_lower, its negation at tick_upper."""
    signed = F.col("amount") * F.col("type_of_event")
    lower = mb.select(
        *by, F.col("as_of"), F.col("tick_lower").alias("tick"), signed.alias("delta")
    )
    upper = mb.select(
        *by, F.col("as_of"), F.col("tick_upper").alias("tick"), (-signed).alias("delta")
    )
    return lower.unionByName(upper)


def _timeline_fused(deltas: DataFrame, frames: list[float], by: list[str]) -> DataFrame:
    """(*by, tick, frame_as_of, net): per-frame cumulative net deltas from
    one conditional-sum aggregation."""
    nets = deltas.groupBy(*by, "tick").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("as_of") < F.lit(f), F.col("delta"))),
                F.lit(0.0),
            ).alias(f"_net_{i}")
            for i, f in enumerate(frames)
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(f).cast(DoubleType()).alias("frame_as_of"),
                F.col(f"_net_{i}").alias("net"),
            )
            for i, f in enumerate(frames)
        ]
    )
    return nets.select(*by, "tick", F.explode(pairs).alias("p")).select(
        *by, "tick", "p.frame_as_of", "p.net"
    )


def _timeline_grid(deltas: DataFrame, frames: list[float], by: list[str]) -> DataFrame:
    """(*by, tick, frame_as_of, net): per-(frame, tick) sums on a dense
    frame x tick grid, accumulated along the frame axis."""
    frames_arr = F.array(*[F.lit(x).cast(DoubleType()) for x in frames])
    # first frame strictly after the event; events after the last frame get
    # NULL (get, unlike element_at, does not raise past the end under ANSI)
    # and drop
    first_frame = F.get(F.filter(frames_arr, lambda f: f > F.col("as_of")), F.lit(0))
    per_frame = (
        deltas.withColumn("frame_as_of", first_frame)
        .filter(F.col("frame_as_of").isNotNull())
        .groupBy(*by, "frame_as_of", "tick")
        .agg(F.sum("delta").alias("delta"))
    )

    # dense grid: every tick that ever appears x every frame
    ticks = deltas.select(*by, "tick").distinct()
    grid = ticks.withColumn("frame_as_of", F.explode(frames_arr))
    dense = grid.join(per_frame, by + ["frame_as_of", "tick"], "left").na.fill(
        0, subset=["delta"]
    )
    return dense.withColumn(
        "net", F.sum("delta").over(_running_sum([*by, "tick"], "frame_as_of"))
    )
