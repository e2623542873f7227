"""Runnable end-to-end tour of the engine on the reference's own example
data — the workflows a v3-polars user runs today, in their Spark form.

    python examples/quickstart.py [data_path]

data_path defaults to the reference example directory; any landed table
directory (see ``sources.update_table`` / ``spark.read.format("v3warehouse")``)
works the same way.
"""

from __future__ import annotations

import datetime
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from v3_polars_spark.session import get_spark
from v3_polars_spark.v3 import Pool

POOL = "0x1d42064FC4Beb5F8aAF85F4617AE8b3b5B8Bd801"  # UNI/WETH 30 bps
DATA = sys.argv[1] if len(sys.argv) > 1 else "/root/reference/v3/data/examples"
AS_OF = 12376626  # block after the golden history's last block
SERIES_START = datetime.datetime(2021, 5, 4)  # first bucket of the price series


def main() -> None:
    spark = get_spark(app_name="quickstart")
    pool = Pool(spark, POOL, "ethereum", DATA)
    print(f"pool {pool.pool}: spacing={pool.ts} fee={pool.fee}ppm")

    # 1. liquidity distribution in force just before AS_OF (createLiq)
    liq = pool.create_liq(AS_OF)
    print(f"liquidity distribution: {liq.count()} initialized ticks")
    liq.orderBy("tick").show(3)

    # 2. spot price/tick time travel (getPriceAt/getTickAt)
    print("price at as_of:", pool.get_price_at(AS_OF))

    # 3. simulate a swap (swapIn): 1000 UNI -> WETH
    amt_out, (sqrt_p_last, _sqrt_p, fees) = pool.swap_in(
        {"as_of": AS_OF, "tokenIn": pool.token0, "swapIn": 1000e18,
         "fees": True}
    )
    print(f"swap 1000 UNI -> {amt_out/1e18:.6f} WETH "
          f"(price after: {sqrt_p_last:.6f}, fee ticks: {len(fees)})")

    # 4. batched quoting: a ladder of sizes in ONE distributed plan
    amounts = spark.sql(
        "SELECT * FROM (VALUES (0, CAST(1e21 AS DOUBLE)), (1, CAST(1e22 AS DOUBLE)),"
        " (2, CAST(5e22 AS DOUBLE))) AS t(quote_id, amount_in)"
    )
    ladder = pool.quote_ladder(AS_OF, pool.token0, amounts)
    ladder.select("quote_id", "branch", "sufficient", "amt_out").show()

    # 5. resampled price series with as-of backfill (getPriceSeries)
    series = pool.get_price_series(SERIES_START, "6h")
    series.show(5)

    # 6. LLM-data ops on any text corpus (here: synthetic docs if present)
    docs_path = "/root/testdata/sf0.001/documents.parquet"
    if os.path.exists(docs_path):
        from v3_polars_spark.datapipe import (
            dedup_exact,
            language_id,
            minhash_lsh_pairs,
            token_counts,
        )

        docs = spark.read.parquet(docs_path)
        print("docs:", docs.count(),
              "| after exact dedup:", dedup_exact(docs).count())
        pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4,
                                  verify_threshold=0.5)
        print("near-dup pairs (MinHash-LSH, jaccard>=0.5):", pairs.count())
        token_counts(language_id(docs)).select(
            "doc_id", "lang_pred", "n_tokens_ws", "n_tokens_bpe"
        ).show(3)

    spark.stop()


if __name__ == "__main__":
    main()
