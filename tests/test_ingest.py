"""Golden-replay ingest tests — the reference's own test strategy
(test_helpers.py:29-68: re-pull capped history, compare sorted frames to
the checked-in examples), re-expressed for the Spark engine."""

import os

import pytest
from pyspark.sql import functions as F

from v3_polars_spark import tables as T
from v3_polars_spark.sources import (
    LocalParquetConnector,
    max_landed_block,
    ovm1_rewrite,
    update_table,
    update_tables,
)

POOL = "0x1d42064fc4beb5f8aaf85f4617ae8b3b5b8bd801"
CAP = 12376625  # "the 1000th swap on mainnet" (reference data_update.py:136-137)


def _sorted_pandas(df, order_cols):
    cols = sorted(df.columns)
    return (
        df.select(*cols)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .toPandas()
    )


@pytest.fixture(scope="module")
def landed(spark, ref_examples, tmp_path_factory):
    """Replay the full ingest of swaps + mint/burns from the example data
    with a small segment size to force multiple loop iterations."""
    data_path = str(tmp_path_factory.mktemp("landed"))
    conn = LocalParquetConnector(spark, ref_examples)
    n = {}
    for table in ["pool_swap_events", "pool_mint_burn_events"]:
        n[table] = update_table(
            spark, conn, data_path, table, "ethereum",
            tgt_max_rows=300, max_block_cap=CAP,
        )
    return data_path, n


def test_segmented_replay_matches_source(spark, ref_examples, landed):
    data_path, n_segments = landed
    assert n_segments["pool_swap_events"] >= 3  # 1001 rows / 300-row segments

    for table in ["pool_swap_events", "pool_mint_burn_events"]:
        got = T.tenant_filter(
            T.read_table(spark, data_path, table), "ethereum", POOL
        )
        want = T.tenant_filter(
            spark.read.parquet(f"{ref_examples}/{table}"), "ethereum", POOL
        )
        order = ["block_number", "transaction_index", "log_index"]
        gp = _sorted_pandas(got, order)
        wp = _sorted_pandas(want, order)
        assert list(gp.columns) == list(wp.columns)
        assert len(gp) == len(wp)
        assert gp.equals(wp), f"{table} landed data differs from source"


def test_resume_is_idempotent(spark, ref_examples, landed):
    data_path, _ = landed
    conn = LocalParquetConnector(spark, ref_examples)
    again = update_table(
        spark, conn, data_path, "pool_swap_events", "ethereum",
        tgt_max_rows=300, max_block_cap=CAP,
    )
    assert again == 0  # nothing new to land
    assert max_landed_block(spark, data_path, "pool_swap_events", "ethereum") == CAP


def test_ovm1_rewrite(spark):
    rows = [
        ("optimism_legacy_ovm1", 777, "0xold1", "x"),
        ("optimism_legacy_ovm1", 778, "0xunknown", "y"),
    ]
    df = spark.createDataFrame(
        rows, ["chain_name", "block_number", "address", "payload"]
    ).withColumn("block_timestamp", F.current_timestamp())
    mapping = spark.createDataFrame(
        [("0xold1", "0xnew1")], ["oldaddress", "newaddress"]
    )
    out = {r["payload"]: r for r in ovm1_rewrite(df, mapping).collect()}
    assert out["x"]["chain_name"] == "optimism"
    assert out["x"]["block_number"] == 1
    assert out["x"]["address"] == "0xnew1"
    assert out["y"]["address"] is None  # unmatched -> null (map_dict parity)
    assert out["x"]["block_timestamp"].year == 2021


def test_pool_works_on_landed_data(spark, ref_examples, landed):
    """End-to-end: the Pool facade runs its flagship queries on data landed
    by OUR ingest loop (not the original files)."""
    data_path, _ = landed
    # factory + initialize land wholesale (small tables)
    conn = LocalParquetConnector(spark, ref_examples)
    update_tables(
        spark, conn, data_path, "ethereum",
        tables=["factory_pool_created", "pool_initialize_events"],
        max_block_cap=CAP,
    )
    from v3_polars_spark.v3 import Pool

    pool = Pool(spark, POOL, "ethereum", data_path)
    assert pool.ts == 60
    liq = pool.create_liq(12376626).orderBy("tick").collect()
    assert len(liq) == 123
    assert liq[0]["liquidity"] == pytest.approx(2.1615743339306317e20, rel=1e-9)


def test_compact_segments(spark, ref_examples, tmp_path):
    """Many small appended segments compact into few right-sized files,
    preserving every row and the total-order sort for pruning."""
    from v3_polars_spark import tables as T
    from v3_polars_spark.sources import LocalParquetConnector, update_table

    data_path = str(tmp_path / "landed")
    conn = LocalParquetConnector(spark, ref_examples)
    update_table(
        spark, conn, data_path, "pool_swap_events", "ethereum",
        tgt_max_rows=200, max_block_cap=12376625,
    )  # small pulls -> many files
    before = T.read_table(spark, data_path, "pool_swap_events")
    rows_before = before.count()
    key = ["block_number", "transaction_index", "log_index"]
    sum_before = before.select(F.md5(F.concat_ws("|", *key)).alias("h")).agg(
        F.count(F.lit(1)), F.min("h"), F.max("h")
    ).collect()

    stats = T.compact_segments(spark, data_path, "pool_swap_events",
                               target_rows_per_file=10_000)
    b, a = stats["ethereum"]
    assert b > 1 and a == 1  # 1001 rows -> one file

    after = T.read_table(spark, data_path, "pool_swap_events")
    assert after.count() == rows_before
    sum_after = after.select(F.md5(F.concat_ws("|", *key)).alias("h")).agg(
        F.count(F.lit(1)), F.min("h"), F.max("h")
    ).collect()
    assert sum_before == sum_after


def test_with_decimal_amounts_exact_beyond_double(spark):
    """Raw-wei sums where the double path drifts: 2^60 + 1 summed 3x is
    exact in decimal, off in float64 (2^60+1 is not representable)."""
    from v3_polars_spark.tables import with_decimal_amounts
    from pyspark.sql import functions as F

    big = str(2**60 + 1)
    df = spark.createDataFrame([(big,), (big,), (big,)], ["amount"])
    dec = with_decimal_amounts(df, ["amount"])
    exact = dec.agg(F.sum("amount").alias("s")).first().s
    assert int(exact) == 3 * (2**60 + 1)
    dbl = df.select(F.col("amount").cast("double").alias("a")).agg(
        F.sum("a").alias("s")
    ).first().s
    assert int(dbl) != 3 * (2**60 + 1)  # the documented double drift


def test_sync_resumes_on_file_uri(spark, tmp_path):
    """A second sync into a ``file://`` data_path resumes after the landed
    blocks: it writes no segment and leaves every table's rows unchanged."""
    from test_v3_kernels import _gen_pool

    gp = _gen_pool()
    src = str(tmp_path / "src")
    gp.pool_dataset(3, src, n_pools=1, n_swaps=50, n_mb=20, span_blocks=1_000, n_syncs=1)
    conn = LocalParquetConnector(spark, src)
    landed = "file://" + str(tmp_path / "landed")
    assert set(update_tables(spark, conn, landed, gp.CHAIN).values()) == {1}
    rows = {t: T.read_table(spark, landed, t).count() for t in T.TABLES}
    assert update_tables(spark, conn, landed, gp.CHAIN) == dict.fromkeys(T.TABLES, 0)
    assert {t: T.read_table(spark, landed, t).count() for t in T.TABLES} == rows
