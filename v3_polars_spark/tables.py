"""L0 — schema registry and parquet directory sources/sinks for the four
v3 event tables.

Semantics from the reference (SURVEY.md §1):
- tables are immutable append-only event logs stored as a directory of
  parquet segments, read as one table (reference v3/state.py:130,152;
  v3/helpers/pool_helpers.py:20) — in Spark a directory read IS the union
  of appended segments (S1/S2, §2.6);
- 256-bit EVM quantities are strings at rest, cast to double at the point
  of use (reference v3/helpers/swap.py:61-64, v3/state.py:157-164);
- every read is tenant-filtered on (chain_name, address)
  (reference v3/state.py:131-134).

Scale design: the canonical on-disk layout is hive-partitioned by
``chain_name`` so tenant filters become partition pruning and "drop chain"
(reference v3/helpers/pool_helpers.py:207-231, S6) becomes a partition
delete instead of a per-file probe-and-remove. Reads keep the registry's
column order, and the string-typed big ints stay strings until
``typed_events`` casts them (SURVEY.md §1.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TABLES = [
    "factory_pool_created",
    "pool_initialize_events",
    "pool_swap_events",
    "pool_mint_burn_events",
]

_S = StringType()
_L = LongType()
_T = TimestampType()


def _fields(spec: str) -> list[StructField]:
    types = {"s": _S, "l": _L, "t": _T}
    out = []
    for part in spec.split():
        name, code = part.rsplit(":", 1)
        out.append(StructField(name, types[code]))
    return out


# Physical schemas of the four landed tables, matching the reference's
# example parquet column-for-column (v3/data/examples/{table}, the
# documented schema source per connectors/template.py:95-101). Note the
# asymmetries: factory has no gas/transaction_index columns; initialize has
# no l1_fee.
SCHEMAS: dict[str, StructType] = {
    "factory_pool_created": StructType(
        _fields(
            "chain_name:s block_timestamp:t block_number:l transaction_hash:s "
            "log_index:l token0:s token1:s fee:s tickSpacing:s pool:s"
        )
    ),
    "pool_initialize_events": StructType(
        _fields(
            "chain_name:s address:s block_timestamp:t block_number:l "
            "transaction_hash:s log_index:l sqrtPriceX96:s tick:s to_address:s "
            "from_address:s transaction_index:l gas_price:s gas_used:s"
        )
    ),
    "pool_swap_events": StructType(
        _fields(
            "chain_name:s address:s block_timestamp:t block_number:l "
            "transaction_hash:s log_index:l sender:s recipient:s amount0:s "
            "amount1:s sqrtPriceX96:s liquidity:s tick:s from_address:s "
            "to_address:s transaction_index:l gas_price:s gas_used:s l1_fee:s"
        )
    ),
    "pool_mint_burn_events": StructType(
        _fields(
            "chain_name:s address:s block_timestamp:t block_number:l "
            "transaction_hash:s log_index:l amount:s amount0:s amount1:s "
            "owner:s tick_lower:s tick_upper:s type_of_event:l to_address:s "
            "from_address:s transaction_index:l gas_price:s gas_used:s l1_fee:s"
        )
    ),
    # decoded NonfungiblePositionManager events (the raw nfp SIDE before
    # matching to core mint/burns — reference allium.py:178-192 inner
    # subquery; amounts are 256-bit strings like every event table)
    "nfp": StructType(
        _fields(
            "chain_name:s name:s transaction_hash:s block_number:l "
            "tx_index:l from_address:s amount:s amount0:s amount1:s "
            "tokenId:s log_index:l"
        )
    ),
}


def read_table(spark: SparkSession, data_path: str, table: str) -> DataFrame:
    """Read an event table from its parquet directory (S1).

    The reference globs ``{data_path}/{table}/*.parquet``; a Spark directory
    read is the same implicit UNION ALL of segments, plus partition
    discovery if the layout is hive-partitioned. Trusts parquet footers but
    re-orders/prunes to the registry columns when they all exist — robust
    to both the reference's example layout and our partitioned sink.
    """
    df = spark.read.parquet(os.path.join(data_path, table))
    want = [f.name for f in SCHEMAS[table].fields]
    have = set(df.columns)
    if all(c in have for c in want):
        df = df.select(*want)
    return df


def tenant_filter(df: DataFrame, chain: str, address: str | None = None) -> DataFrame:
    """The multi-tenant filter applied on every read
    (reference v3/state.py:131-134). Addresses are normalized lowercase at
    the boundary (reference v3/state.py:45)."""
    cond = F.col("chain_name") == chain
    if address is not None:
        cond = cond & (F.col("address") == address.lower())
    return df.filter(cond)


def with_as_of(df: DataFrame) -> DataFrame:
    """Derive the synthetic total-order key
    ``as_of = block_number + transaction_index/1e4``
    (reference v3/state.py:135-137). All time-travel reads are strict
    ``as_of < X`` — "the value before the transaction at that index"."""
    return df.withColumn(
        "as_of", F.col("block_number") + F.col("transaction_index") / F.lit(1e4)
    )


# the mint/burn columns the v3 kernels read as numbers (reference
# v3/state.py:157-164); the amount stays a lossy double, as there
_MB_CASTS = {
    "amount": "double",
    "tick_lower": "long",
    "tick_upper": "long",
    "type_of_event": "double",
}


def typed_events(df: DataFrame, table: str) -> DataFrame:
    """The read-side preprocessing of a (tenant-filtered) v3 event table
    (reference v3/state.py:131-167): mint/burns get their numeric casts,
    then swaps and mint/burns get ``as_of``; other tables pass through.
    Every reader of the event tables (``Pool``, ``sql.register_tables``,
    the entry's reference fixtures) prepares them here."""
    if table == "pool_mint_burn_events":
        df = df.withColumns({c: F.col(c).cast(t) for c, t in _MB_CASTS.items()})
    if table in ("pool_swap_events", "pool_mint_burn_events"):
        df = with_as_of(df)
    return df


def with_decimal_amounts(
    df: DataFrame, cols: list[str], precision: int = 38
) -> DataFrame:
    """Opt-in exact path for the string-typed EVM quantities: cast to
    ``decimal(precision,0)`` instead of the reference's lossy double cast
    (doubles hold 53 mantissa bits; token amounts routinely exceed 2^53,
    so double sums of raw wei drift — SURVEY §8.1 documents the
    reference's double stance as a quirk, this is the beyond-parity
    fix). decimal(38,0) covers amounts < 1e38; values beyond (full
    uint256 is 78 digits) overflow to NULL under ANSI — callers keeping
    full range should aggregate in halves or post-scale first. Decimal
    aggregation is exact and partitioning-independent, which also makes
    results oracle-portable (DuckDB HUGEINT/DECIMAL)."""
    return df.withColumns(
        {c: F.col(c).cast(f"decimal({precision},0)") for c in cols}
    )


def write_segment(df: DataFrame, data_path: str, table: str) -> None:
    """Append one ingest segment (S2, reference v3/helpers/data_update.py:51-59).

    The reference names files ``{idx}_{min}_{max}_{table}.parquet`` to make
    the directory an ordered manifest; Spark's committed part-files plus the
    ``chain_name`` partition column carry the same information, and readers
    never depend on file order (every ordered op takes explicit sort keys).
    """
    (
        df.write.mode("append")
        .partitionBy("chain_name")
        .parquet(os.path.join(data_path, table))
    )


def drop_chain(spark: SparkSession, data_path: str, table: str, chain: str) -> None:
    """S6 'drop tables for a chain'. With the chain-partitioned layout this
    is a partition-directory delete — structurally fixing the reference's
    footgun of deleting co-located other-chain rows
    (reference v3/helpers/pool_helpers.py:218-231, SURVEY.md §8.1 Q6)."""
    import shutil

    part_dir = os.path.join(data_path, table, f"chain_name={chain}")
    if os.path.isdir(part_dir):
        shutil.rmtree(part_dir)


def write_bucketed(
    df: DataFrame,
    name: str,
    keys: list[str],
    buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist a table bucketed (and optionally sorted) by ``keys`` so
    repeated equi-joins and aggregations on those keys run WITHOUT an
    exchange: both sides of a bucketed-bucketed join read co-located
    buckets (pinned in tests/test_plans.py). This is the 100 TB posture
    for the event tables — big fact-fact joins (swaps x mint/burns per
    pool, nfp x core events per transaction) pay the shuffle once at
    write time instead of per query.

    Uses the session catalog (saveAsTable — bucketing metadata lives in
    the catalog, not parquet footers); overwrites any same-named table."""
    w = df.write.mode("overwrite").bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(name)


def compact_segments(
    spark: SparkSession,
    data_path: str,
    table: str,
    target_rows_per_file: int = 1_000_000,
) -> dict:
    """Compact a segmented table directory: rewrite each chain partition's
    accumulation of small per-pull files (the sink appends one ~200k-row
    file per ingest iteration, reference data_update.py:51-59) into
    ``ceil(rows/target)`` right-sized files.

    Small files are the classic long-lived-ingest pathology — every scan
    pays per-file open/footer costs and planning overhead grows with the
    manifest. Compaction is per chain partition (write new files →
    atomically swap the partition directory), ordered by the event total
    order so parquet row-group min/max stats keep block-range pruning
    effective after the rewrite.

    Not transactional across partitions: a concurrent reader sees each
    chain partition either fully old or fully new (POSIX rename), never a
    mix within one chain. Returns {chain: (files_before, files_after)}.
    """
    import math
    import os
    import shutil
    import uuid

    base = os.path.join(data_path, table)
    order = [
        c
        for c in ("block_number", "transaction_index", "log_index")
        if c in {f.name for f in SCHEMAS[table].fields}
    ]
    out: dict = {}
    for entry in sorted(os.listdir(base)):
        part_dir = os.path.join(base, entry)
        if not (entry.startswith("chain_name=") and os.path.isdir(part_dir)):
            continue
        files_before = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        df = spark.read.parquet(part_dir)
        n = df.count()
        n_files = max(1, math.ceil(n / target_rows_per_file))
        tmp_dir = os.path.join(base, f".compact-{uuid.uuid4().hex}")
        (
            df.repartitionByRange(n_files, *[F.col(c) for c in order])
            .sortWithinPartitions(*order)
            .write.mode("overwrite")
            .parquet(tmp_dir)
        )
        old_dir = part_dir + ".old"
        os.rename(part_dir, old_dir)
        os.rename(tmp_dir, part_dir)
        shutil.rmtree(old_dir)
        files_after = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        out[entry.split("=", 1)[1]] = (len(files_before), len(files_after))
    return out


def zorder_key(
    cols: list[str],
    bounds: dict[str, tuple[int, int]],
    bits: int = 16,
):
    """Morton (Z-order) key over up to 3 integer columns: each value is
    scaled to a ``bits``-bit bucket inside its [min, max] bounds and the
    bucket bits are interleaved, so rows close in the key are close in
    EVERY dimension. Pure column expressions (shift/mask terms unrolled at
    plan-build time) — no UDF.
    """
    k = len(cols)
    if not 1 <= k <= 3 or bits * k > 63:
        raise ValueError("zorder_key supports 1-3 columns with bits*k <= 63")
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        lo, hi = bounds[c]
        span = max(hi - lo, 1)
        # double-domain scaling: immune to (v-lo)*top int64 overflow on
        # wide ranges; bucket assignment does not need exact integer math
        b = (
            (F.col(c).cast("double") - F.lit(float(lo)))
            / F.lit(float(span))
            * F.lit(float(top))
        ).cast("long")
        b = F.greatest(F.lit(0), F.least(F.lit(top), b))
        for i in range(bits):
            z = z + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * k + j)
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 16,
    bits: int = 16,
) -> None:
    """Write ``df`` laid out in Z-order over ``cols`` so parquet
    row-group/file min-max stats prune scans on ANY of the dimensions,
    not just a sort prefix.

    A linear sort gives perfect pruning on the first column and none on
    the second; the Morton layout gives ~sqrt-of-files pruning on each —
    the right trade for the two-predicate access paths here (block range
    x tenant, day x user, tick x timestamp). One global min/max aggregate
    for the bounds, one range partitioning by the interleaved key, one
    in-partition sort; files then carry tight per-dimension stats
    (pruning factor pinned in tests/test_zorder.py). The no-partition
    case of :func:`write_partitioned_zorder`.
    """
    write_partitioned_zorder(df, path, [], cols, num_files=num_files, bits=bits)


def write_partitioned_zorder(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    cols: list[str],
    num_files: int = 32,
    bits: int = 16,
) -> None:
    """Hive-partitioned + Z-ordered-within-partition layout — the
    ``chain_name=``-style 100 TB resting format (reference keeps one
    directory per chain, data_update.py:51-59; this adds multi-dimension
    file stats inside each partition).

    Partition columns give the scanner DIRECTORY pruning (a predicate on
    ``partition_by`` never lists the other partitions' files); the Morton
    key over ``cols`` gives FILE pruning within each partition via tight
    per-file min/max stats. One range partitioning over
    ``(partition cols, z)`` co-locates each hive partition's z-ranges, so
    every output task writes a contiguous z-slice of one (or few)
    partition directories.

    ``num_files`` is the TOTAL write-task count across all partitions —
    scale it with data volume exactly like ``write_zorder``. With no
    ``partition_by`` this IS ``write_zorder``: one flat directory.
    """
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    row = df.agg(*aggs).first()
    bounds = {c: (row[f"__mn_{c}"], row[f"__mx_{c}"]) for c in cols}
    z = zorder_key(cols, bounds, bits=bits)
    part_cols = [F.col(c) for c in partition_by]
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, *part_cols, F.col("__z"))
        .sortWithinPartitions(*part_cols, F.col("__z"))
        .drop("__z")
        .write.mode("overwrite")
        .partitionBy(*partition_by)
        .parquet(path)
    )
