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


SWAPS = "pool_swap_events"


def _chain_rows(spark, data_path):
    """{chain_name: (row count, sha256 of the sorted rows)} of the landed
    swap table."""
    import hashlib

    rows = T.read_table(spark, data_path, SWAPS).collect()
    out = {}
    for chain in {r["chain_name"] for r in rows}:
        mine = sorted(tuple(r) for r in rows if r["chain_name"] == chain)
        out[chain] = (len(mine), hashlib.sha256(repr(mine).encode()).hexdigest())
    return out


@pytest.fixture(params=["plain", "file_uri"])
def two_chains(request, spark, tmp_path):
    """A generated pool's swaps landed under ``ethereum`` in several small
    segments, plus a one-segment copy under ``polygon``; the data path is
    plain or a ``file://`` URI."""
    from test_v3_kernels import _gen_pool

    gp = _gen_pool()
    src = str(tmp_path / "src")
    gp.pool_dataset(5, src, n_pools=1, n_swaps=60, n_mb=10, span_blocks=1_000, n_syncs=1)
    data = str(tmp_path / "landed")
    if request.param == "file_uri":
        data = "file://" + data
    conn = LocalParquetConnector(spark, src)
    assert update_table(spark, conn, data, SWAPS, gp.CHAIN, tgt_max_rows=25) > 1
    other = T.read_table(spark, src, SWAPS).withColumn("chain_name", F.lit("polygon"))
    T.write_segment(other, data, SWAPS)
    return data


def test_drop_chain_removes_only_that_chain(spark, two_chains):
    before = _chain_rows(spark, two_chains)
    assert set(before) == {"ethereum", "polygon"}
    T.drop_chain(spark, two_chains, SWAPS, "ethereum")
    assert _chain_rows(spark, two_chains) == {"polygon": before["polygon"]}


def test_compact_segments_generated(spark, two_chains):
    """The generated twin of test_compact_segments: every chain's small
    segments compact to one file, with the same rows."""
    before = _chain_rows(spark, two_chains)
    stats = T.compact_segments(spark, two_chains, SWAPS, target_rows_per_file=10_000)
    assert stats["ethereum"][0] > 1 and stats == {
        "ethereum": (stats["ethereum"][0], 1), "polygon": (1, 1)
    }
    assert _chain_rows(spark, two_chains) == before


@pytest.mark.parametrize("crash_at", [0, 1])
def test_compact_crash_between_renames(spark, two_chains, monkeypatch, crash_at):
    """A rename that raises once, at either of the swap's two renames,
    never shows a row under another chain_name, and the next call serves
    the chain's rows exactly once under its own name."""
    from v3_polars_spark import fsutil

    before = _chain_rows(spark, two_chains)
    real_rename = fsutil.rename
    calls = []

    def crashing_rename(spark_, src, dst):
        calls.append(src)
        if len(calls) == crash_at + 1:
            raise IOError("injected crash")
        real_rename(spark_, src, dst)

    monkeypatch.setattr(fsutil, "rename", crashing_rename)
    with pytest.raises(IOError, match="injected crash"):
        T.compact_segments(spark, two_chains, SWAPS, target_rows_per_file=10_000)
    during = _chain_rows(spark, two_chains)
    assert set(during) <= set(before)  # no rows under another chain_name
    assert all(during[c] == before[c] for c in during)
    monkeypatch.undo()
    T.compact_segments(spark, two_chains, SWAPS, target_rows_per_file=10_000)
    assert _chain_rows(spark, two_chains) == before


def test_ovm1_probe_read_error_raises(spark, tmp_path, monkeypatch):
    """The OVM1 replay's already-run probe raises on a read error instead
    of taking it for "not run" and appending the legacy rows again."""
    from pyspark.sql.readwriter import DataFrameReader

    from test_v3_kernels import _gen_pool

    gp = _gen_pool()
    gen = str(tmp_path / "gen")
    ds = gp.pool_dataset(6, gen, n_pools=1, n_swaps=30, n_mb=10, span_blocks=1_000, n_syncs=1)
    rows = T.read_table(spark, gen, SWAPS)
    src = str(tmp_path / "src")
    (
        rows.withColumn("chain_name", F.lit("optimism"))
        .unionByName(rows.withColumn("chain_name", F.lit("optimism_legacy_ovm1")))
        .write.parquet(os.path.join(src, SWAPS))
    )
    conn = LocalParquetConnector(spark, src)
    mapping = spark.createDataFrame(
        [(ds.pools[0].address, "0xnew")], "oldaddress string, newaddress string"
    )
    landed = str(tmp_path / "landed")

    def sync():
        return update_tables(
            spark, conn, landed, "optimism", tables=[SWAPS], ovm1_mapping=mapping
        )[SWAPS]

    assert sync() == 2  # the live segment and the legacy replay
    assert sync() == 0
    n_rows = T.read_table(spark, landed, SWAPS).count()

    real_parquet = DataFrameReader.parquet
    reads = []

    def failing_parquet(self, *paths, **options):
        if str(paths[0]).startswith(landed):
            reads.append(paths[0])
            if len(reads) == 2:  # the first is the sync's resume probe
                raise IOError("injected read error")
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", failing_parquet)
    with pytest.raises(IOError, match="injected read error"):
        sync()
    monkeypatch.undo()
    assert T.read_table(spark, landed, SWAPS).count() == n_rows
