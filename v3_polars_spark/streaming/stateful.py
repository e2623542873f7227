"""Custom stateful streaming operator: running per-(pool, tick) liquidity.

The reference's liquidity distribution (v3/helpers/swap_math.py:25-71) is a
batch group-sum over the full mint/burn history. Streaming it means keeping
the per-tick net delta as STATE and folding each micro-batch of mint/burn
events in — an operator Structured Streaming's built-in aggregations can
express only with update-mode groupBy (which cannot co-emit the whole
updated tick vector per pool). ``applyInPandasWithState`` is the documented
escape hatch for exactly this: Arrow-batched per-key state, user-defined
merge logic, update-mode output.

Scale shape: state is keyed by (chain_name, address) — pools are the
natural partitioning at 100 TB (state shards across executors; each pool's
tick map is O(#initialized ticks) ≈ 10²-10⁴ entries). Input rows shuffle
once on the key; everything else is per-key local.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("chain_name", StringType()),
        StructField("address", StringType()),
        StructField("tick", LongType()),
        StructField("liquidity_delta", DoubleType()),
    ]
)

# state = parallel arrays (tick, running net delta) — arrays instead of a
# map because state structs must round-trip through Arrow
STATE_SCHEMA = StructType(
    [
        StructField("ticks", ArrayType(LongType())),
        StructField("sums", ArrayType(DoubleType())),
    ]
)


def _fold_liquidity(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold a micro-batch of mint/burn events for one pool into the
    per-tick running net-liquidity state; emit every tick touched this
    batch with its updated running value (update-mode semantics)."""
    chain_name, address = key
    if state.exists:
        ticks, sums = state.get
        acc = dict(zip(ticks, sums))
    else:
        acc = {}

    touched = set()
    for pdf in pdfs:
        # +amount*type_of_event enters at tick_lower, leaves at tick_upper
        # (reference v3/helpers/swap_math.py:36-60; type_of_event ∈ {+1,-1}).
        # Vectorized: concat both tick columns with signed deltas, one
        # pandas groupby-sum per batch — no per-row Python in the hot path.
        signed = pdf["amount"].astype(float) * pdf["type_of_event"].astype(float)
        deltas = (
            pd.concat(
                [
                    pd.DataFrame(
                        {"t": pdf["tick_lower"].astype("int64"), "d": signed}
                    ),
                    pd.DataFrame(
                        {"t": pdf["tick_upper"].astype("int64"), "d": -signed}
                    ),
                ]
            )
            .groupby("t")["d"]
            .sum()
        )
        for t, d in deltas.items():
            t = int(t)
            acc[t] = acc.get(t, 0.0) + float(d)
            touched.add(t)

    # prune exactly-zero ticks (fully burned positions) from STATE so it
    # tracks currently-initialized ticks, not ticks-ever-touched — the
    # batch path drops them the same way; they still EMIT this batch so
    # downstream sees the transition to 0
    acc_live = {t: s for t, s in acc.items() if s != 0.0}
    state.update((list(acc_live.keys()), list(acc_live.values())))
    out = sorted(touched)
    yield pd.DataFrame(
        {
            "chain_name": [chain_name] * len(out),
            "address": [address] * len(out),
            "tick": pd.Series(out, dtype="int64"),
            "liquidity_delta": [acc[t] for t in out],
        }
    )


def streaming_liquidity_deltas(mb_stream: DataFrame) -> DataFrame:
    """Running per-(chain, pool, tick) net liquidity deltas over a
    mint/burn event stream.

    Input columns (pre-cast by the caller, as the batch reader does at
    reference v3/state.py:157-164): chain_name, address, amount double,
    type_of_event double, tick_lower long, tick_upper long.

    Output (update mode): every (tick) touched in a micro-batch with its
    new running ``liquidity_delta``. The batch-equivalent invariant —
    folding all batches equals the one-shot group-sum — is pinned in
    tests against the pre-cumsum deltas of liquidity_distribution(by=pool
    keys)."""
    return mb_stream.groupBy("chain_name", "address").applyInPandasWithState(
        _fold_liquidity,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="Update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
