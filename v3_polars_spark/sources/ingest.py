"""Segmented incremental ingest — the batch micro-batching loop.

Reference: v3/helpers/data_update.py:124-295 (_update_tables): probe global
bounds → resume from max landed block + 1 → loop {find segment horizon of
~tgt_max_rows, pull slice, append segment} → OVM1 rewrite for optimism.

Spark shape: the landed table is a chain-partitioned parquet directory
(tables.write_segment); resume state is derived FROM the data (max landed
block), not from a side file, so the loop is idempotent and crash-safe —
exactly the property Structured Streaming's checkpoint provides for the
streaming re-expression (streaming/ingest_stream.py).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from .. import tables as T
from ..ops import recode_join
from .connectors import Connector

OVM1_CHAIN = "optimism_legacy_ovm1"
OVM1_GENESIS_TS = "2021-11-11 21:16:39"


def max_landed_block(
    spark: SparkSession, data_path: str, table: str, chain: str
) -> int | None:
    """Resume point: max block_number already landed for this chain
    (reference data_update.py:162-189), None when nothing has landed.
    The path resolves through the Hadoop FS API (fsutil), so a
    ``file://``, ``hdfs://`` or ``s3a://`` data_path resumes like a local
    one; any read error but an empty table directory raises, instead of
    restarting the sync at the first block and landing every row again."""
    path = os.path.join(data_path, table)
    if not fsutil.exists(spark, path):
        return None
    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":  # no parquet file yet
            raise
        return None
    row = (
        df.filter(F.col("chain_name") == chain)
        .agg(F.max("block_number").alias("hi"))
        .first()
    )
    return row["hi"]


def update_table(
    spark: SparkSession,
    connector: Connector,
    data_path: str,
    table: str,
    chain: str,
    tgt_max_rows: int = 200_000,
    max_block_cap: int | None = None,
) -> int:
    """Incrementally land one table. Returns the number of segments written.

    Loop invariant (reference data_update.py:191-292): each iteration lands
    blocks [resume, horizon] where horizon accumulates ~tgt_max_rows rows,
    then advances resume to horizon+1. Restart-safe: resume is re-derived
    from the landed data."""
    lo, hi = connector.min_max_block(chain, table)
    if lo is None:
        return 0
    if max_block_cap is not None:
        hi = min(hi, max_block_cap)

    landed = max_landed_block(spark, data_path, table, chain)
    resume = lo if landed is None else landed + 1
    n_segments = 0
    while resume <= hi:
        horizon = connector.segment_horizon(chain, table, resume, tgt_max_rows)
        if horizon is None:
            break
        horizon = min(horizon, hi)
        seg = connector.read_segment(spark, chain, table, resume, horizon)
        if seg.isEmpty():
            # a block-range gap (possible when segment_horizon is an
            # estimate, as with remote connectors): skip past it and keep
            # going, matching the reference loop which advances min_block
            # over empty ranges (data_update.py)
            resume = horizon + 1
            continue
        T.write_segment(seg, data_path, table)
        n_segments += 1
        resume = horizon + 1
    return n_segments


def ovm1_rewrite(df: DataFrame, mapping_df: DataFrame) -> DataFrame:
    """The OVM1→EVM migration rewrite (reference data_update.py:236-280):
    legacy rows are re-homed to chain 'optimism' at a synthetic block 0
    segment — block_number=1, genesis timestamp — with addresses recoded
    through the mapping table (P7 literals + P8 recode).

    mapping_df: (oldaddress, newaddress) — the reference reads it from
    ovm_mapping.csv (S3); broadcast-joined here, null for unmatched."""
    out = (
        df.withColumn("block_number", F.lit(1).cast("long"))
        .withColumn(
            "block_timestamp",
            F.to_timestamp(F.lit(OVM1_GENESIS_TS)),
        )
        .withColumn("chain_name", F.lit("optimism"))
    )
    # event tables recode `address`; the factory table recodes `pool`
    # (reference data_update.py:266-276 handles exactly these two)
    for col in ("address", "pool"):
        if col in df.columns:
            out = recode_join(
                out, col, mapping_df, key_col="oldaddress", value_col="newaddress"
            )
    return out


def update_tables(
    spark: SparkSession,
    connector: Connector,
    data_path: str,
    chain: str,
    tables: list[str] | None = None,
    tgt_max_rows: int = 200_000,
    max_block_cap: int | None = None,
    ovm1_mapping: DataFrame | None = None,
) -> dict[str, int]:
    """Update all four event tables; for chain='optimism', also replay the
    legacy OVM1 chain and append its rewritten rows (reference
    state.py:75-86 + data_update.py:236-280)."""
    tables = tables or T.TABLES
    written = {}
    for table in tables:
        written[table] = update_table(
            spark, connector, data_path, table, chain, tgt_max_rows, max_block_cap
        )
    if chain == "optimism" and ovm1_mapping is not None:
        for table in tables:
            # idempotence: rewritten legacy rows all land at the synthetic
            # block_number=1, which never occurs for live optimism data —
            # if any such rows are already on disk, the replay has run
            # (re-appending would double every legacy pool's liquidity)
            try:
                landed = T.read_table(spark, data_path, table)
                already = not landed.filter(
                    (F.col("chain_name") == "optimism")
                    & (F.col("block_number") == 1)
                ).isEmpty()
            except Exception:
                already = False
            if already:
                continue
            lo, hi = connector.min_max_block(OVM1_CHAIN, table)
            if lo is None:
                continue
            legacy = connector.read_segment(spark, OVM1_CHAIN, table, lo, hi)
            rewritten = ovm1_rewrite(legacy, ovm1_mapping)
            T.write_segment(rewritten, data_path, table)
            written[table] += 1
    return written
