"""The reference's ingest loop as one streaming pipeline, end to end:

    warehouse (custom streaming source, block-watermark offsets)
      -> atomic segment sink (staged writes, manifest-name commit)
        -> Pool analytics on the landed directory

    python examples/warehouse_ingest.py [source_dir]

Re-running re-uses the checkpoint: only blocks landed upstream since the
last drain are pulled — the resume-from-max-landed-block contract, with
zero bookkeeping code.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from v3_polars_spark.session import get_spark
from v3_polars_spark.sources.pyds import SegmentSinkDataSource, WarehouseDataSource
from v3_polars_spark.streaming.state_store import drain_available_now

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/reference/v3/data/examples"
TABLES = ["pool_swap_events", "pool_mint_burn_events", "pool_initialize_events", "factory_pool_created"]


def main() -> None:
    spark = get_spark(app_name="warehouse-ingest-example")
    spark.dataSource.register(WarehouseDataSource)
    spark.dataSource.register(SegmentSinkDataSource)

    with tempfile.TemporaryDirectory() as tmp:
        landed = os.path.join(tmp, "landed")
        for table in TABLES:
            drain_available_now(
                spark.readStream.format("v3warehouse")
                .option("provider", "local")
                .option("path", SRC)
                .option("table", table)
                .option("chain", "ethereum")
                .option("rows_per_partition", "50000")
                .load()
                .writeStream.format("v3segments")
                .option("path", landed)
                .option("table", table)
                .option("checkpointLocation", os.path.join(tmp, "ckpt", table)),
                180,
            )
            n = spark.read.parquet(os.path.join(landed, table)).count()
            print(f"landed {table}: {n} rows")

        # the landed directory is a first-class engine table dir: run the
        # domain layer on it directly
        from v3_polars_spark.v3 import Pool

        pool = Pool(
            spark, "0x1d42064FC4Beb5F8aAF85F4617AE8b3b5B8Bd801", "ethereum", landed
        )
        liq = pool.create_liq(12376626)
        print(f"liquidity distribution on landed data: {liq.count()} ticks")


if __name__ == "__main__":
    main()
