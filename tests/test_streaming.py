"""Structured Streaming re-expression of the ingest loop: availableNow
drain with checkpoint resume, and the shared tumbling-window operator under
a watermark."""

import os

import pytest

# Deterministic but minutes-long: every test spins real structured-
# streaming drains / state-store rebuilds (measured ~10 min for this
# module on an idle local[32] — durations in BENCH_NOTES r11 gate note).
# Third tier: excluded from the per-change gate, always in the
# per-round gate (pytest -m 'not fuzz').
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from v3_polars_spark import tables as T
from v3_polars_spark.sources import LocalParquetConnector, update_table
from v3_polars_spark.streaming import (
    run_available_now,
    stream_table,
    streaming_resample,
)

CAP = 12376625


@pytest.fixture(scope="module")
def landed(spark, ref_examples, tmp_path_factory):
    data_path = str(tmp_path_factory.mktemp("stream_src"))
    conn = LocalParquetConnector(spark, ref_examples)
    update_table(
        spark, conn, data_path, "pool_swap_events", "ethereum",
        tgt_max_rows=500, max_block_cap=CAP,
    )
    return data_path


def test_available_now_drain_and_resume(spark, ref_examples, landed, tmp_path):
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src = stream_table(spark, landed, "pool_swap_events")
    assert src.isStreaming
    run_available_now(src, sink, ckpt)
    n1 = spark.read.parquet(sink).count()
    assert n1 == 1001  # full golden swap history drained

    # re-run: checkpoint skips processed segments -> no duplicates
    run_available_now(stream_table(spark, landed, "pool_swap_events"), sink, ckpt)
    assert spark.read.parquet(sink).count() == n1

    # append a new segment -> only the delta lands on the next drain
    conn = LocalParquetConnector(spark, ref_examples)
    extra = conn.read_segment(
        spark, "ethereum", "pool_swap_events", CAP + 1, 10**9
    )
    if not extra.isEmpty():
        T.write_segment(extra, landed, "pool_swap_events")
        run_available_now(stream_table(spark, landed, "pool_swap_events"), sink, ckpt)
        assert spark.read.parquet(sink).count() == n1 + extra.count()


def test_streaming_resample_matches_batch(spark, landed, tmp_path):
    """The SAME tumbling-window expression runs batch and streaming; the
    streaming availableNow result must equal the batch resample."""
    from v3_polars_spark.ops import resample

    aggs = [F.max("block_number").alias("max_bn"), F.count(F.lit(1)).alias("n")]

    src = stream_table(spark, landed, "pool_swap_events")
    windowed = streaming_resample(src, "block_timestamp", "6h", aggs)
    sink = str(tmp_path / "agg_sink")
    ckpt = str(tmp_path / "agg_ckpt")
    q = (
        windowed.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    batch = resample(
        spark.read.parquet(os.path.join(landed, "pool_swap_events")),
        "block_timestamp",
        "6h",
        aggs,
        bucket_alias="bucket_ts",
    )
    got = {
        r["bucket_ts"]: (r["max_bn"], r["n"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {r["bucket_ts"]: (r["max_bn"], r["n"]) for r in batch.collect()}
    # append mode only emits windows closed by the watermark; every emitted
    # window must match its batch twin exactly
    assert got, "streaming emitted no windows"
    for k, v in got.items():
        assert want[k] == v


def test_stateful_liquidity_deltas_across_batches(spark, tmp_path):
    """applyInPandasWithState: state folds across micro-batches — the final
    running value per (pool, tick) equals the one-shot batch group-sum."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )
    from v3_polars_spark.streaming import streaming_liquidity_deltas

    schema = StructType([
        StructField("chain_name", StringType()),
        StructField("address", StringType()),
        StructField("amount", DoubleType()),
        StructField("type_of_event", DoubleType()),
        StructField("tick_lower", LongType()),
        StructField("tick_upper", LongType()),
    ])
    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: mints on two pools; batch 2: partial burn of pool A's
    # position (same tick range — exercises merging into existing state)
    b1 = [
        ("ethereum", "0xa", 100.0, 1.0, -60, 60),
        ("ethereum", "0xa", 50.0, 1.0, 0, 120),
        ("ethereum", "0xb", 7.0, 1.0, -120, -60),
    ]
    b2 = [
        ("ethereum", "0xa", 40.0, -1.0, -60, 60),
        ("ethereum", "0xb", 7.0, -1.0, -120, -60),
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/seg1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/seg2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/seg*")
    )
    out = streaming_liquidity_deltas(stream)

    batches = {}

    def collect(df, batch_id):
        batches[batch_id] = df.toPandas()

    q = (
        out.writeStream.foreachBatch(collect)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(batches) >= 2  # one micro-batch per segment file

    # last emission per (address, tick) = final running state
    final = {}
    for bid in sorted(batches):
        for r in batches[bid].itertuples():
            final[(r.address, r.tick)] = r.liquidity_delta

    # one-shot batch equivalent over all events
    expected = {}
    for chain, addr, amt, toe, tl, tu in b1 + b2:
        expected[(addr, tl)] = expected.get((addr, tl), 0.0) + amt * toe
        expected[(addr, tu)] = expected.get((addr, tu), 0.0) - amt * toe
    assert final == pytest.approx(expected)


def test_stream_dedup_exact(spark, tmp_path):
    """Streaming dedup drops later re-occurrences of the same normalized
    text ACROSS micro-batches (state carries between files)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from v3_polars_spark.streaming import stream_dedup_exact

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma delta")], schema
    ).coalesce(1).write.parquet(src + "/seg1")
    spark.createDataFrame(
        [(2, "ALPHA   beta"), (3, "epsilon zeta")], schema  # 2 ~ 0 normalized
    ).coalesce(1).write.parquet(src + "/seg2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/seg*")
    )
    out = stream_dedup_exact(stream)
    sink = str(tmp_path / "sink")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    ids = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert 3 in ids and (0 in ids or 2 in ids)
    assert not (0 in ids and 2 in ids)  # normalized dup dropped across batches
    assert 1 in ids


def test_stateful_liquidity_resumes_from_checkpoint(spark, tmp_path):
    """Killing and restarting the stateful query must resume per-pool
    state from the checkpoint: events landed after the first drain fold
    into the state built before it."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )
    from v3_polars_spark.streaming import streaming_liquidity_deltas

    schema = StructType([
        StructField("chain_name", StringType()),
        StructField("address", StringType()),
        StructField("amount", DoubleType()),
        StructField("type_of_event", DoubleType()),
        StructField("tick_lower", LongType()),
        StructField("tick_upper", LongType()),
    ])
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    batches = {}

    def collect(df, batch_id):
        batches[batch_id] = df.toPandas()

    def drain():
        stream = spark.readStream.schema(schema).parquet(src + "/seg*")
        q = (
            streaming_liquidity_deltas(stream)
            .writeStream.foreachBatch(collect)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    spark.createDataFrame(
        [("ethereum", "0xa", 100.0, 1.0, -60, 60)], schema
    ).coalesce(1).write.parquet(src + "/seg1")
    drain()  # first run: state {(-60): 100, (60): -100}

    spark.createDataFrame(
        [("ethereum", "0xa", 30.0, -1.0, -60, 60)], schema
    ).coalesce(1).write.parquet(src + "/seg2")
    drain()  # second run, NEW query instance, same checkpoint

    final = {}
    for bid in sorted(batches):
        for r in batches[bid].itertuples():
            final[(r.address, r.tick)] = r.liquidity_delta
    assert final[("0xa", -60)] == pytest.approx(70.0)  # 100 - 30: state resumed
    assert final[("0xa", 60)] == pytest.approx(-70.0)


def test_streaming_sessionize_matches_batch(spark, landed, tmp_path):
    """Session windows stream under a watermark: the availableNow result
    for every emitted (closed) session must equal its batch twin from
    ops.sessionize."""
    from v3_polars_spark.ops import sessionize
    from v3_polars_spark.streaming import streaming_sessionize

    aggs = [F.count(F.lit(1)).alias("n"), F.max("block_number").alias("max_bn")]

    src = stream_table(spark, landed, "pool_swap_events")
    sessions = streaming_sessionize(
        src, "block_timestamp", "10m", by=["address"], aggs=aggs
    )
    sink = str(tmp_path / "sess_sink")
    ckpt = str(tmp_path / "sess_ckpt")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    batch = sessionize(
        spark.read.parquet(os.path.join(landed, "pool_swap_events")),
        "block_timestamp",
        "10m",
        by=["address"],
        aggs=aggs,
    )
    got = {
        (r["address"], r["session_start"]): (r["session_end"], r["n"], r["max_bn"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["address"], r["session_start"]): (r["session_end"], r["n"], r["max_bn"])
        for r in batch.collect()
    }
    # append mode only emits sessions closed by the watermark; each one
    # must match its batch twin exactly
    assert got, "streaming emitted no sessions"
    for k, v in got.items():
        assert want[k] == v


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Windowed stream-stream inner join (equality key + event-time range,
    watermarks on both sides for state cleanup): the availableNow drain
    must produce exactly the batch join's matches."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    clicks = [
        (u, base + dt.timedelta(minutes=m), f"c{u}_{m}")
        for u in range(3)
        for m in (0, 30, 240)
    ]
    purchases = [
        (u, base + dt.timedelta(minutes=m), f"p{u}_{m}")
        for u in range(3)
        for m in (45, 75, 600)  # 45/75 match the 0/30 clicks; 600 matches none
    ]
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    cdf = spark.createDataFrame(clicks, ["user_id", "cts", "click_id"])
    pdf = spark.createDataFrame(purchases, ["user_id", "pts", "purchase_id"])
    cdf.write.parquet(cdir)
    pdf.write.parquet(pdir)

    cs = (
        spark.readStream.schema(cdf.schema).parquet(cdir)
        .withWatermark("cts", "2 hours")
    )
    ps = (
        spark.readStream.schema(pdf.schema).parquet(pdir)
        .withWatermark("pts", "2 hours")
        .withColumnRenamed("user_id", "p_user_id")
    )
    joined = cs.join(
        ps,
        F.expr(
            "user_id = p_user_id AND "
            "pts >= cts AND pts < cts + INTERVAL 1 HOUR"
        ),
    ).select("user_id", "click_id", "purchase_id")

    sink = str(tmp_path / "join_sink")
    ckpt = str(tmp_path / "join_ckpt")
    q = (
        joined.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in cdf.join(
            pdf.withColumnRenamed("user_id", "p_user_id"),
            F.expr(
                "user_id = p_user_id AND pts >= cts AND pts < cts + INTERVAL 1 HOUR"
            ),
        ).collect()
    }
    assert want, "batch twin produced no matches — test data broken"
    assert got == want


def test_streaming_snapshot_upsert_matches_batch(spark, tmp_path):
    """Stream-maintained latest-state snapshot (foreachBatch dedup_last +
    MERGE per micro-batch) must equal the batch derivation (dedup_last
    over the whole log) — including keys updated across batches."""
    from v3_polars_spark.ops import dedup_last
    from v3_polars_spark.streaming import streaming_snapshot_upsert

    src = str(tmp_path / "log")
    # three segments with overlapping keys; later segments win
    batches = [
        [(1, 1, "a1"), (2, 1, "b1"), (3, 1, "c1")],
        [(1, 2, "a2"), (4, 1, "d1")],
        [(2, 2, "b2"), (4, 2, "d2"), (5, 1, "e1")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, ["k", "seq", "payload"]).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    snap = str(tmp_path / "snapshot")
    streaming_snapshot_upsert(
        stream, snap, str(tmp_path / "ckpt"), keys=["k"], order=["seq"]
    )

    from v3_polars_spark.streaming import read_snapshot

    got = sorted(map(tuple, read_snapshot(spark, snap).collect()))
    want = sorted(
        map(tuple, dedup_last(spark.read.parquet(src), keys=["k"], order=["seq"]).collect())
    )
    assert got == want
    assert len(got) == 5


def test_streaming_snapshot_upsert_resumes_from_checkpoint(spark, tmp_path):
    """Re-running the drain with the same checkpoint after new segments
    land processes ONLY the new files and still converges to the batch
    answer — the incremental maintenance contract."""
    from v3_polars_spark.ops import dedup_last
    from v3_polars_spark.streaming import streaming_snapshot_upsert

    src = str(tmp_path / "log")
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        streaming_snapshot_upsert(stream, snap, ckpt, keys=["k"], order=["seq"])

    spark.createDataFrame(
        [(1, 1, "a1"), (2, 1, "b1")], ["k", "seq", "payload"]
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    from v3_polars_spark.streaming import read_snapshot

    assert {r.k: r.payload for r in read_snapshot(spark, snap).collect()} == {
        1: "a1", 2: "b1"
    }

    spark.createDataFrame(
        [(1, 2, "a2"), (3, 1, "c1")], ["k", "seq", "payload"]
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    got = {r.k: r.payload for r in read_snapshot(spark, snap).collect()}
    want = {
        r.k: r.payload
        for r in dedup_last(
            spark.read.parquet(src), keys=["k"], order=["seq"]
        ).collect()
    }
    assert got == want == {1: "a2", 2: "b1", 3: "c1"}


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: a streaming fact source enriched against a
    small static dimension gives exactly the batch join result — the
    standard dimension-lookup shape (static side re-read per micro-batch,
    broadcastable, no state)."""
    src = str(tmp_path / "facts")
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 10), (4, 99)], ["id", "dim_id"]
    ).coalesce(1).write.mode("append").parquet(src)
    dim = spark.createDataFrame([(10, "a"), (20, "b")], ["dim_id", "label"])

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    enriched = stream.join(F.broadcast(dim), "dim_id", "left")

    import uuid

    qname = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = sorted(map(tuple, spark.table(qname).select("id", "label").collect()))
    want = sorted(
        map(
            tuple,
            spark.read.parquet(src)
            .join(dim, "dim_id", "left")
            .select("id", "label")
            .collect(),
        )
    )
    assert got == want and len(got) == 4


def test_streaming_psi_counts_match_batch(spark, tmp_path):
    """The stream-maintained bin-count state must reproduce the batch
    bin counts exactly (so stream-vs-baseline PSI == batch PSI), and a
    second drain with the same checkpoint must only ingest NEW segments
    (delta appends are idempotent under replay)."""
    from v3_polars_spark.ops import bin_counts, psi_drift, psi_from_counts
    from v3_polars_spark.streaming import read_bin_counts, streaming_bin_counts

    src = str(tmp_path / "docs")
    seg1 = spark.createDataFrame([(i, i % 90) for i in range(200)], ["id", "x"])
    seg1.coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        streaming_bin_counts(stream, "x", 0.0, 100.0, 5, state, ckpt)

    drain()
    got1 = {r.bin: r.n for r in read_bin_counts(spark, state).collect()}
    want1 = {
        r.bin: r.n
        for r in bin_counts(spark.read.parquet(src), "x", 0.0, 100.0, 5).collect()
    }
    assert got1 == want1

    # append a second, differently-shaped segment and re-drain
    seg2 = spark.createDataFrame([(1000 + i, 80) for i in range(100)], ["id", "x"])
    seg2.coalesce(1).write.mode("append").parquet(src)
    drain()
    got2 = {r.bin: r.n for r in read_bin_counts(spark, state).collect()}
    want2 = {
        r.bin: r.n
        for r in bin_counts(spark.read.parquet(src), "x", 0.0, 100.0, 5).collect()
    }
    assert got2 == want2 and sum(got2.values()) == 300

    # PSI computed from the maintained state == PSI from the raw frames
    baseline = spark.createDataFrame([(i, i % 100) for i in range(300)], ["id", "x"])
    via_state = psi_from_counts(
        bin_counts(baseline, "x", 0.0, 100.0, 5),
        read_bin_counts(spark, state),
        0.0,
        100.0,
        5,
    )
    via_raw = psi_drift(baseline, spark.read.parquet(src), "x", 0.0, 100.0, 5)
    s = {r.bin: r.psi_contrib for r in via_state.collect()}
    r = {r.bin: r.psi_contrib for r in via_raw.collect()}
    assert s == r


def test_streaming_kll_state_quantiles(spark, tmp_path):
    """Streamed per-batch KLL sketches merge to global quantiles: n is
    exact across drains, and every estimate's true rank is within the
    sketch tolerance of its target."""
    from v3_polars_spark.streaming import read_kll_quantiles, streaming_kll_state

    src = str(tmp_path / "vals")
    state = str(tmp_path / "kll")
    ckpt = str(tmp_path / "ckpt")
    seg1 = spark.createDataFrame([(i,) for i in range(1000)], ["v"])
    seg1.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        streaming_kll_state(stream, "v", state, ckpt)

    drain()
    # second segment shifts the distribution; resumed drain adds it
    spark.createDataFrame([(i,) for i in range(1000, 3000)], ["v"]).coalesce(
        1
    ).write.mode("append").parquet(src)
    drain()

    got = {r.p: r for r in read_kll_quantiles(spark, state, [0.25, 0.5, 0.9]).collect()}
    assert all(r.n == 3000 for r in got.values())
    all_vals = list(range(3000))
    for p, r in got.items():
        true_rank = sum(1 for v in all_vals if v <= r.approx_value) / 3000
        assert abs(true_rank - p) <= 0.03, (p, r.approx_value, true_rank)


def test_batch_state_replay_idempotent(spark, tmp_path):
    """Structured Streaming re-runs a failed micro-batch with the SAME
    batch_id; the state writer must leave exactly one copy (dynamic
    partition overwrite of batch_id=N), never an appended duplicate that
    double-counts PSI bins / inflates KLL n (round-3 advisory)."""
    from v3_polars_spark.streaming.quality_stream import (
        _write_batch_state,
        read_bin_counts,
    )

    state = str(tmp_path / "state")
    bins = spark.createDataFrame([(0, 5), (1, 7)], ["bin", "n"])
    _write_batch_state(bins, 0, state)
    _write_batch_state(bins, 0, state)  # replay of the same batch
    got = {r.bin: r.n for r in read_bin_counts(spark, state).collect()}
    assert got == {0: 5, 1: 7}

    # a LATER batch must not clobber earlier partitions
    _write_batch_state(spark.createDataFrame([(0, 2)], ["bin", "n"]), 1, state)
    got = {r.bin: r.n for r in read_bin_counts(spark, state).collect()}
    assert got == {0: 7, 1: 7}


# ---------------------------------------------------------------------------
# Failure injection: the checkpoint-resume tests above stop CLEANLY between
# batches; these kill the drain mid-flight and prove exactly-once after
# resume — the contract a 100 TB continuous ingest actually depends on.
# ---------------------------------------------------------------------------


def test_quality_stream_crash_midbatch_replay_idempotent(spark, tmp_path):
    """Kill the quality_stream drain AFTER batch 1's state lands but BEFORE
    the streaming commit (the worst-case crash window: work done, progress
    not recorded). The resumed drain replays batch 1 with the SAME
    batch_id; the dynamic partition overwrite in _write_batch_state must
    leave exactly one copy, so summed bin counts equal the one-shot batch
    result — no double count, no gap."""
    from v3_polars_spark.ops.drift import bin_counts
    from v3_polars_spark.streaming import quality_stream as qsm

    schema = "id long, value double"
    src = str(tmp_path / "src")
    os.makedirs(src)
    segs = [
        [(i, float(i % 10)) for i in range(0, 40)],
        [(i, float(i % 10)) for i in range(40, 90)],
        [(i, float(i % 10)) for i in range(90, 150)],
    ]
    for k, rows in enumerate(segs):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/seg{k}"
        )
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def crashing(df, batch_id):
        qsm._write_batch_state(
            bin_counts(df, "value", 0.0, 10.0, 5), batch_id, state
        )
        if batch_id == 1:
            raise RuntimeError("injected crash: state written, commit lost")

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/seg*")
        .writeStream.foreachBatch(crashing)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination(300)
        if q.exception() is not None:
            raise q.exception()
    assert not q.isActive

    # resume with the REAL drain API on the same checkpoint: batch 1
    # replays (same id, same rows), batch 2 runs fresh
    qsm.streaming_bin_counts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/seg*"),
        "value", 0.0, 10.0, 5, state, ckpt,
    )
    got = {
        r["bin"]: r["n"] for r in qsm.read_bin_counts(spark, state).collect()
    }
    allrows = [r for seg in segs for r in seg]
    exp = {
        r["bin"]: r["n"]
        for r in bin_counts(
            spark.createDataFrame(allrows, schema), "value", 0.0, 10.0, 5
        ).collect()
    }
    assert got == exp


def test_ingest_drain_killed_midway_resumes_exactly_once(spark, tmp_path):
    """Kill the parquet-sink drain while segments are still queued, then
    resume with the same checkpoint. The file sink's _spark_metadata
    commit log must hide any uncommitted part files from the aborted
    batch, and the resumed drain must land every row exactly once."""
    import time

    from v3_polars_spark.streaming import run_available_now

    schema = "id long, value double"
    src = str(tmp_path / "src")
    os.makedirs(src)
    n_segs, per_seg = 24, 500
    for k in range(n_segs):
        spark.createDataFrame(
            [(k * per_seg + i, float(i)) for i in range(per_seg)], schema
        ).coalesce(1).write.parquet(f"{src}/seg{k:02d}")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def reader():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/seg*")
        )

    q = (
        reader()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # kill as soon as at least one batch committed (mid-drain, not clean)
    deadline = time.time() + 120
    while time.time() < deadline and not q.recentProgress:
        time.sleep(0.05)
    q.stop()
    q.awaitTermination(120)
    n_mid = spark.read.parquet(sink).count()
    assert n_mid < n_segs * per_seg  # genuinely interrupted

    run_available_now(reader(), sink, ckpt)
    out = spark.read.parquet(sink)
    assert out.count() == n_segs * per_seg
    assert out.select("id").distinct().count() == n_segs * per_seg


def test_stream_dedup_crash_resume_state_intact(spark, tmp_path):
    """Crash the streaming dedup AFTER batch 1 was processed but before
    its commit, resume, and require the final output to equal the
    one-shot batch dedup: the dropDuplicates state store must replay
    batch 1 against the batch-0 state version (not against state
    polluted by the failed attempt), or re-occurrences would slip
    through / survivors would vanish."""
    from v3_polars_spark.streaming import stream_dedup_exact

    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    os.makedirs(src)
    segs = [
        [(0, "alpha beta"), (1, "gamma delta")],
        [(2, "ALPHA   beta"), (3, "epsilon zeta")],   # 2 dups 0 normalized
        [(4, "gamma delta"), (5, "unique tail doc")],  # 4 dups 1
    ]
    for k, rows in enumerate(segs):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/seg{k}"
        )
    sink, ckpt, state = (
        str(tmp_path / "sink"), str(tmp_path / "ckpt"), str(tmp_path / "st")
    )
    os.makedirs(sink)

    def write_idempotent(df, batch_id):
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(state)
        )
        if batch_id == 1:
            raise RuntimeError("injected crash after batch-1 work")

    def reader():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/seg*")
        )

    q = (
        stream_dedup_exact(reader())
        .writeStream.foreachBatch(write_idempotent)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination(300)
        if q.exception() is not None:
            raise q.exception()

    def write_clean(df, batch_id):
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(state)
        )

    q2 = (
        stream_dedup_exact(reader())
        .writeStream.foreachBatch(write_clean)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)

    ids = sorted(r["doc_id"] for r in spark.read.parquet(state).collect())
    # survivors: one of {0,2} (same normal form), 1, 3, 5; 4 must be
    # dropped by CROSS-BATCH state that survived the crash
    assert 4 not in ids
    assert sum(1 for i in ids if i in (0, 2)) == 1
    assert set(ids) >= {1, 3, 5} and len(ids) == 4


# ---------------------------------------------------------------------------
# Streaming incremental corpus dedup (streaming/dedup_stream.py): grow the
# kept corpus batch-by-batch, each micro-batch deduped exact + near against
# persisted state — batch-replay equivalence, checkpoint resume growth, and
# exactly-once under both crash windows (committed-unacknowledged replay,
# half-written state cleanup).
# ---------------------------------------------------------------------------

_CD_SCHEMA = "doc_id long, text string"

# each family is a 3-token phrase repeated: base (x3) and near-variant
# (x4) have IDENTICAL 3-gram shingle sets (Jaccard exactly 1), so LSH
# candidacy + verification are DETERMINISTIC — the probabilistic
# mid-Jaccard regime is covered by the seeded sf0.01 test below, which
# compares against the direct functions rather than a hand expectation.
# Families share no tokens (J = 0 across), and a near-variant is NOT an
# exact dup (different normalized text).
def _fam(phrase: str) -> tuple[str, str]:
    return " ".join([phrase] * 3), " ".join([phrase] * 4)


_A, _A_NEAR = _fam("alpha bravo charlie")
_B, _B_NEAR = _fam("one two three")
_C, _C_NEAR = _fam("red orange yellow")
_D, _D_NEAR = _fam("north south east")
_E, _E_NEAR = _fam("ant bee cat")

_CD_SEGS = [
    [(0, _A), (1, _B), (2, "  ALPHA " + _A[6:])],     # 2 == 0 normalized
    [(3, _A_NEAR), (4, _C), (5, _B)],                 # 3 near-dups 0; 5 exact-dups 1
    [(6, _C_NEAR), (7, _D), (8, _A)],                 # 6 near-dups 4; 8 exact-dups 0
    [(9, _D_NEAR), (10, _E), (11, _E_NEAR)],          # 9 near-dups 7; 10+11 BOTH
]                                                     # survive (within-batch near)
assert _CD_SEGS[0][2][1].lower().split() == _A.split()  # 2 really exact-dups 0
_CD_SURVIVORS = {0, 1, 4, 7, 10, 11}


def _cd_write_segs(spark, src, segs, start=0):
    """One parquet file per segment with strictly increasing mtimes so the
    file source's oldest-first order equals segment order (survivorship
    is order-dependent: keep-first across batches)."""
    import glob as _glob
    import time

    base = time.time() - 3600
    for k, rows in enumerate(segs, start=start):
        d = f"{src}/seg{k}"
        spark.createDataFrame(rows, _CD_SCHEMA).coalesce(1).write.parquet(d)
        for f in _glob.glob(f"{d}/*"):
            os.utime(f, (base + k, base + k))


def _cd_reader(spark, src):
    return (
        spark.readStream.schema(_CD_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/seg*")
    )


def _cd_replay(spark, segs, seed=None, near_self=False):
    """Driver-loop batch derivation: the examples/incremental_dedup.py flow
    run segment-by-segment with the DIRECT datapipe functions (raw corpus
    docs re-shingled each step) — the semantics yardstick the persisted-
    state streaming path must reproduce exactly. ``near_self`` inserts
    dedup_near on the post-exact batch before the near-cross pass, the
    same slot the streaming arm uses."""
    from v3_polars_spark.datapipe import (
        dedup_against,
        dedup_against_near,
        dedup_exact,
    )
    from v3_polars_spark.datapipe.dedup import dedup_near

    corpus = seed
    kept_ids = set() if seed is None else {r.doc_id for r in seed.collect()}
    for rows in segs:
        batch = spark.createDataFrame(rows, _CD_SCHEMA)
        s = dedup_exact(batch)
        if corpus is not None:
            s = dedup_against(s, corpus)
        if near_self:
            s = dedup_near(s)
        if corpus is not None:
            s = dedup_against_near(s, corpus)
        corpus = corpus.unionByName(s) if corpus is not None else s
        corpus = corpus.localCheckpoint()  # keep the lineage flat
        kept_ids = {r.doc_id for r in corpus.collect()}
    return kept_ids


def test_corpus_dedup_stream_equals_batch_replay(spark, tmp_path):
    from v3_polars_spark.streaming import read_corpus, streaming_corpus_dedup

    src = str(tmp_path / "src")
    os.makedirs(src)
    _cd_write_segs(spark, src, _CD_SEGS)
    root, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    streaming_corpus_dedup(_cd_reader(spark, src), root, ckpt)

    got = {r.doc_id for r in read_corpus(spark, root).collect()}
    assert got == _CD_SURVIVORS
    assert got == _cd_replay(spark, _CD_SEGS)


def test_corpus_dedup_stream_near_self_arm(spark, tmp_path):
    """near_self=True drops within-batch NEAR duplicates to the min-id
    component representative BEFORE the cross pass: doc 11 (_E_NEAR, a
    near-dup of batch-mate 10) no longer survives; everything else is
    unchanged vs the default arm. The direct-function replay with
    dedup_near in the same slot derives the identical corpus."""
    from v3_polars_spark.streaming import read_corpus, streaming_corpus_dedup

    src = str(tmp_path / "src")
    os.makedirs(src)
    _cd_write_segs(spark, src, _CD_SEGS)
    root, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    streaming_corpus_dedup(
        _cd_reader(spark, src), root, ckpt, near_self=True
    )
    got = {r.doc_id for r in read_corpus(spark, root).collect()}
    assert got == _CD_SURVIVORS - {11}
    assert got == _cd_replay(spark, _CD_SEGS, near_self=True)


def test_corpus_dedup_stream_resume_grows_corpus(spark, tmp_path):
    """Drain two segments, then land two more and re-drain on the SAME
    checkpoint: the resumed query must process only the new files, and
    the final corpus must equal the four-segment replay."""
    from v3_polars_spark.streaming import read_corpus, streaming_corpus_dedup

    src = str(tmp_path / "src")
    os.makedirs(src)
    _cd_write_segs(spark, src, _CD_SEGS[:2])
    root, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    streaming_corpus_dedup(_cd_reader(spark, src), root, ckpt)
    assert {r.doc_id for r in read_corpus(spark, root).collect()} == {0, 1, 4}

    _cd_write_segs(spark, src, _CD_SEGS[2:], start=2)
    streaming_corpus_dedup(_cd_reader(spark, src), root, ckpt)
    corpus = read_corpus(spark, root)
    assert {r.doc_id for r in corpus.collect()} == _CD_SURVIVORS
    # resumed batches appended, none reprocessed: batch ids keep rising
    assert corpus.select("batch").distinct().count() == 4


def test_corpus_dedup_crash_after_commit_replays_as_noop(spark, tmp_path):
    """Worst-case window A: batch 1 fully committed (docs dir renamed) but
    the streaming checkpoint never acknowledged it. The restart replays
    batch 1 with the same id; the commit marker makes it a no-op — no
    duplicate corpus batch, no re-dedup against itself."""
    from v3_polars_spark.streaming import read_corpus, streaming_corpus_dedup
    from v3_polars_spark.streaming.dedup_stream import corpus_dedup_batch_fn

    src = str(tmp_path / "src")
    os.makedirs(src)
    _cd_write_segs(spark, src, _CD_SEGS)
    root, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")

    fn = corpus_dedup_batch_fn(spark, root)

    def crashing(df, batch_id):
        fn(df, batch_id)
        if batch_id == 1:
            raise RuntimeError("injected crash: batch committed, ack lost")

    q = (
        _cd_reader(spark, src)
        .writeStream.foreachBatch(crashing)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination(300)
        if q.exception() is not None:
            raise q.exception()
    assert not q.isActive

    streaming_corpus_dedup(_cd_reader(spark, src), root, ckpt)
    corpus = read_corpus(spark, root)
    assert {r.doc_id for r in corpus.collect()} == _CD_SURVIVORS
    # batch 1's replay was a no-op: exactly one corpus batch per segment
    assert corpus.select("batch").distinct().count() == 4


def test_corpus_dedup_half_written_state_cleaned_on_replay(spark, tmp_path):
    """Worst-case window B: a crashed attempt left batch 1's STATE dirs
    committed but not its docs dir (docs rename is the commit point).
    The replay must discard the stale state and recompute — otherwise
    the survivor fingerprints/buckets of the dead attempt would shadow
    the real ones."""
    import shutil

    from v3_polars_spark.streaming import read_corpus, streaming_corpus_dedup
    from v3_polars_spark.streaming.dedup_stream import _BUCKETS, _FP, _SHSETS
    from v3_polars_spark.streaming.state_store import batch_dir

    src = str(tmp_path / "src")
    os.makedirs(src)
    _cd_write_segs(spark, src, _CD_SEGS[:1])
    root, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    streaming_corpus_dedup(_cd_reader(spark, src), root, ckpt)

    # forge the half-written batch-1 attempt: stale state, no docs
    for kind in (_FP, _BUCKETS, _SHSETS):
        shutil.copytree(batch_dir(root, kind, 0), batch_dir(root, kind, 1))

    _cd_write_segs(spark, src, _CD_SEGS[1:], start=1)
    streaming_corpus_dedup(_cd_reader(spark, src), root, ckpt)
    assert {
        r.doc_id for r in read_corpus(spark, root).collect()
    } == _CD_SURVIVORS


def test_corpus_dedup_midwrite_tmp_dirs_invisible_and_swept(spark, tmp_path):
    """Worst-case window C: a crash BETWEEN the parquet job commit and the
    atomic rename leaves a fully-written tmp dir. Tmp dirs live outside
    the batch=* namespace (.tmp-batch=<id>-<hex>), so (a) readers never
    treat the dead attempt's files as committed corpus/state — the batch
    must NOT anti-join against its own dead-attempt fingerprints and drop
    its docs — and (b) the replay sweeps the leftovers instead of
    accreting them."""
    import glob as _glob
    import shutil

    from v3_polars_spark.streaming import read_corpus, streaming_corpus_dedup
    from v3_polars_spark.streaming.dedup_stream import _DOCS, _FP
    from v3_polars_spark.streaming.state_store import batch_dir

    src = str(tmp_path / "src")
    os.makedirs(src)
    _cd_write_segs(spark, src, _CD_SEGS[:1])
    root, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    streaming_corpus_dedup(_cd_reader(spark, src), root, ckpt)

    # forge the mid-write crash: batch 1's fp/docs parquet jobs completed
    # into tmp dirs (with part files), rename never happened. The fp
    # content is batch 1's OWN fingerprints — the poison case: if a
    # reader picked them up as corpus state, batch 1 would dedup against
    # itself and silently drop every doc.
    from v3_polars_spark.datapipe.dedup import dedup_exact, fingerprint_md5

    b1 = spark.createDataFrame(_CD_SEGS[1], _CD_SCHEMA)
    own_fp = fingerprint_md5(dedup_exact(b1), "text").select("fp").distinct()
    for kind, df in ((_FP, own_fp), (_DOCS, b1)):
        final = batch_dir(root, kind, 1)
        tmp = os.path.join(
            os.path.dirname(final), ".tmp-" + os.path.basename(final) + "-deadbeef"
        )
        df.write.parquet(tmp)
        assert _glob.glob(os.path.join(tmp, "part-*"))

    _cd_write_segs(spark, src, _CD_SEGS[1:], start=1)
    streaming_corpus_dedup(_cd_reader(spark, src), root, ckpt)
    assert {
        r.doc_id for r in read_corpus(spark, root).collect()
    } == _CD_SURVIVORS
    # the dead attempt's leftovers were swept on batch 1's replay
    leftovers = _glob.glob(os.path.join(root, "*", ".tmp-*"))
    assert leftovers == [], leftovers


def test_corpus_dedup_seeded_matches_direct_functions(spark, sf_dir):
    """Production shape on real testdata: seed the kept corpus with the
    even-id docs, stream the odd-id docs through in one trigger, and
    require the survivors to equal the direct dedup_exact →
    dedup_against → dedup_against_near composition — the persisted-state
    path and the raw-corpus path must be indistinguishable."""
    from v3_polars_spark.datapipe import (
        dedup_against,
        dedup_against_near,
        dedup_exact,
    )
    from v3_polars_spark.streaming import (
        read_corpus,
        seed_corpus,
        streaming_corpus_dedup,
    )

    docs_path = os.path.join(sf_dir, "documents.parquet")
    docs = spark.read.parquet(docs_path)
    fresh = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)

    import tempfile

    root = tempfile.mkdtemp(prefix="cd_seeded_")
    seed_corpus(corpus, root)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
    )
    streaming_corpus_dedup(stream, root, os.path.join(root, "ckpt"))

    got = {
        r.doc_id
        for r in read_corpus(spark, root).filter("batch >= 0").collect()
    }
    exp_df = dedup_against_near(
        dedup_against(dedup_exact(fresh), corpus), corpus
    )
    exp = {r.doc_id for r in exp_df.select("doc_id").collect()}
    assert got == exp and len(got) > 0


def test_corpus_dedup_exact_only_and_degenerate_batches(spark, tmp_path):
    """near=False path (exact passes only, no LSH state) plus degenerate
    batches: an all-duplicate batch commits an EMPTY corpus batch (and
    the stream continues past it), empty/whitespace texts dedup exactly,
    and a shingle-empty doc (< k tokens) always survives the near pass
    of a later batch — the documented contract."""
    from v3_polars_spark.streaming import read_corpus, streaming_corpus_dedup

    src = str(tmp_path / "src")
    os.makedirs(src)
    segs = [
        [(0, "only three tokens"), (1, "")],          # 1 is shingle-empty
        [(2, "ONLY  three tokens"), (3, "   ")],      # all dups of batch 0
        [(4, "fresh content here"), (5, "x y")],      # 5 shingle-empty, new
    ]
    _cd_write_segs(spark, src, segs)

    # exact-only stream: same survivors, no bucket/shset state dirs
    root1, ckpt1 = str(tmp_path / "c1"), str(tmp_path / "k1")
    streaming_corpus_dedup(_cd_reader(spark, src), root1, ckpt1, near=False)
    got1 = {r.doc_id for r in read_corpus(spark, root1).collect()}
    assert got1 == {0, 1, 4, 5}
    assert not os.path.isdir(os.path.join(root1, "state_buckets"))
    # batch 1 (all dups) still committed: its docs dir exists, empty
    assert os.path.isdir(os.path.join(root1, "docs", "batch=1"))

    # near=True: same outcome here (the dups are exact; shingle-empty
    # docs have no buckets and survive the near pass)
    root2, ckpt2 = str(tmp_path / "c2"), str(tmp_path / "k2")
    streaming_corpus_dedup(_cd_reader(spark, src), root2, ckpt2)
    assert {r.doc_id for r in read_corpus(spark, root2).collect()} == {0, 1, 4, 5}


@pytest.mark.fuzz
def test_corpus_dedup_randomized_matches_replay(spark, tmp_path):
    """Property-style: random segment mixes (fresh texts, mangled exact
    dups, near variants, degenerates) streamed through
    streaming_corpus_dedup must equal the driver-loop replay with the
    direct datapipe functions — LSH probabilism cancels because both
    paths run the same operators on the same texts; what's being tested
    is the STATE machinery (persisted fp/buckets/shsets, commit
    protocol, batch boundaries)."""
    import random

    from v3_polars_spark.streaming import read_corpus, streaming_corpus_dedup

    words = [f"w{i}" for i in range(30)]
    for seed in range(5):
        rng = random.Random(seed)
        texts, segs, did = [], [], 0
        for _ in range(rng.randint(2, 4)):
            rows = []
            for _ in range(rng.randint(4, 12)):
                r = rng.random()
                if texts and r < 0.3:  # exact dup, mangled
                    t = rng.choice(texts)
                    t = "  " + t.upper() + " " if rng.random() < 0.5 else t + "  "
                elif texts and r < 0.55:  # near variant: one token swapped
                    toks = rng.choice(texts).split()
                    if len(toks) > 3:
                        toks[rng.randrange(len(toks))] = rng.choice(words)
                    t = " ".join(toks)
                    texts.append(t)
                elif r < 0.65:  # degenerate
                    t = rng.choice(["", "   ", "x", "x y z"])
                else:  # fresh: 8-14 random tokens
                    t = " ".join(
                        rng.choice(words) for _ in range(rng.randint(8, 14))
                    )
                    texts.append(t)
                rows.append((did, t))
                did += 1
            segs.append(rows)
        src = str(tmp_path / f"src{seed}")
        os.makedirs(src)
        _cd_write_segs(spark, src, segs)
        root, ckpt = str(tmp_path / f"c{seed}"), str(tmp_path / f"k{seed}")
        streaming_corpus_dedup(_cd_reader(spark, src), root, ckpt)
        got = {r.doc_id for r in read_corpus(spark, root).collect()}
        exp = _cd_replay(spark, segs)
        assert got == exp, (seed, sorted(got), sorted(exp))


# ---------------------------------------------------------------------------
# streaming IVF index maintenance (streaming/ann_stream.py): fixed seed
# quantizer, O(batch) assignment appends, exactly-once segment commits.
# ---------------------------------------------------------------------------

_IVF_SCHEMA = "vec_id long, embedding array<float>"


def _ivf_vectors(spark, ids, dim=8):
    """Deterministic distinct vectors: one-hot-ish by id so nearest-
    centroid assignment is stable and hand-checkable."""
    rows = [
        (i, [1.0 if d == i % dim else 0.1 * ((i // dim) % 3) for d in range(dim)])
        for i in ids
    ]
    return spark.createDataFrame(rows, _IVF_SCHEMA)


def _ivf_write_segs(spark, src, id_groups, start=0):
    import glob as _glob
    import time

    base = time.time() - 3600
    for k, ids in enumerate(id_groups, start=start):
        d = f"{src}/seg{k}"
        _ivf_vectors(spark, ids).coalesce(1).write.parquet(d)
        for f in _glob.glob(f"{d}/*"):
            os.utime(f, (base + k, base + k))


def _ivf_reader(spark, src):
    return (
        spark.readStream.schema(_IVF_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/seg*")
    )


def test_streaming_ivf_assign_equals_batch(spark, tmp_path):
    """Streamed assignments ≡ one-shot ivf_assign of the same vectors
    against the seed-trained centroids (assignment is a pure per-vector
    function of (vector, centroids)); the seed corpus's own lists land
    as batch -1 and the index read serves both."""
    from v3_polars_spark.datapipe.similarity import ivf_assign
    from v3_polars_spark.streaming import (
        read_ivf_index,
        seed_ivf_index,
        streaming_ivf_assign,
    )

    seed = _ivf_vectors(spark, range(0, 40))
    src = str(tmp_path / "src")
    os.makedirs(src)
    groups = [range(40, 52), range(52, 64), range(64, 80)]
    _ivf_write_segs(spark, src, groups)
    root, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")
    seed_ivf_index(seed, root, n_centroids=4, iters=1)
    streaming_ivf_assign(_ivf_reader(spark, src), root, ckpt)

    centroids, assigned = read_ivf_index(spark, root)
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in assigned.filter(F.col("batch") >= 0).collect()
    }
    direct = ivf_assign(
        _ivf_vectors(spark, range(40, 80)).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("__v")
        ),
        centroids,
    )
    assert got == {r["vec_id"]: r["cluster_id"] for r in direct.collect()}
    # one committed segment per trigger + the seed
    assert assigned.select("batch").distinct().count() == 4
    assert {r["vec_id"] for r in assigned.collect()} == set(range(80))


def test_streaming_ivf_assign_resume_and_crash_windows(spark, tmp_path):
    """Checkpoint resume processes only new segments; a replay of a
    committed batch is a no-op (no duplicate assignments); a dead
    attempt's mid-write tmp dir is invisible to readers and swept on
    replay."""
    import glob as _glob

    from v3_polars_spark.streaming import (
        read_ivf_index,
        seed_ivf_index,
        streaming_ivf_assign,
    )
    from v3_polars_spark.streaming.ann_stream import _ASSIGNED
    from v3_polars_spark.streaming.state_store import batch_dir

    seed = _ivf_vectors(spark, range(0, 24))
    src = str(tmp_path / "src")
    os.makedirs(src)
    _ivf_write_segs(spark, src, [range(24, 32)])
    root, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")
    seed_ivf_index(seed, root, n_centroids=4, iters=1)
    streaming_ivf_assign(_ivf_reader(spark, src), root, ckpt)

    # forge a mid-write crash of batch 1: a fully-written tmp dir
    final = batch_dir(root, _ASSIGNED, 1)
    tmp = os.path.join(
        os.path.dirname(final), ".tmp-" + os.path.basename(final) + "-dead"
    )
    _ivf_vectors(spark, range(900, 903)).write.parquet(tmp)

    _ivf_write_segs(spark, src, [range(32, 40)], start=1)
    streaming_ivf_assign(_ivf_reader(spark, src), root, ckpt)
    _, assigned = read_ivf_index(spark, root)
    ids = sorted(r["vec_id"] for r in assigned.collect())
    assert ids == list(range(40))  # dead attempt's 900s never surfaced
    assert _glob.glob(os.path.join(root, _ASSIGNED, ".tmp-*")) == []
    # replay the whole drain on a FRESH checkpoint: committed dirs make
    # every batch a no-op — same index, no duplicates
    streaming_ivf_assign(
        _ivf_reader(spark, src), root, str(tmp_path / "ckpt2")
    )
    _, again = read_ivf_index(spark, root)
    assert again.count() == 40


def _probe_rows(spark, root, queries):
    from v3_polars_spark.datapipe.similarity import ivf_search
    from v3_polars_spark.streaming import read_ivf_index

    centroids, assigned = read_ivf_index(spark, root)
    return sorted(
        map(
            tuple,
            ivf_search(centroids, assigned, queries, k=5, n_probe=2)
            .select("query_id", "vec_id", "rank")
            .collect(),
        )
    )


def test_compact_ivf_index_probe_identical_and_resumable(spark, tmp_path):
    """compact_ivf_index rewrites N per-trigger segments into one
    right-sized segment: probe results identical pre/post, covered dirs
    reclaimed, file count drops, and a RESUMED drain keeps appending
    against the compacted root (generation ids never collide with the
    checkpoint's trigger ids)."""
    import glob as _glob

    from v3_polars_spark.streaming import (
        compact_ivf_index,
        seed_ivf_index,
        streaming_ivf_assign,
    )
    from v3_polars_spark.streaming.ann_stream import _ASSIGNED

    seed = _ivf_vectors(spark, range(0, 24))
    src = str(tmp_path / "src")
    os.makedirs(src)
    groups = [range(24 + 8 * k, 32 + 8 * k) for k in range(5)]
    _ivf_write_segs(spark, src, groups)
    root, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")
    seed_ivf_index(seed, root, n_centroids=4, iters=1)
    streaming_ivf_assign(_ivf_reader(spark, src), root, ckpt)

    queries = _ivf_vectors(spark, range(200, 208)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = _probe_rows(spark, root, queries)
    files_before = len(
        _glob.glob(os.path.join(root, _ASSIGNED, "batch=*", "part-*"))
    )

    stats = compact_ivf_index(spark, root)
    # the newest trigger (batch=4) is excluded by default — it is the one
    # batch a restart could replay, and replaying into a reclaimed dir
    # would duplicate its vectors
    assert stats["compacted"] and stats["segments_before"] == 5
    assert stats["files_after"] < files_before
    remaining = sorted(
        _glob.glob(os.path.join(root, _ASSIGNED, "batch=*"))
    )
    assert [os.path.basename(d) for d in remaining] == [
        "batch=-2", "batch=4"
    ]
    assert _probe_rows(spark, root, queries) == before

    # resume the SAME checkpoint against the compacted root
    _ivf_write_segs(spark, src, [range(64, 72)], start=5)
    streaming_ivf_assign(_ivf_reader(spark, src), root, ckpt)
    from v3_polars_spark.streaming import read_ivf_index

    _, assigned = read_ivf_index(spark, root)
    assert {r["vec_id"] for r in assigned.collect()} == set(range(72))

    # second-generation compaction covers the first (-2), the previously
    # excluded trigger, and the new one (drain is quiesced, so the caller
    # may opt out of the newest-trigger exclusion); ids chain without
    # collision
    stats2 = compact_ivf_index(spark, root, exclude_newest=False)
    assert stats2["compacted"] and stats2["generation"] == -3
    assert stats2["segments_after"] == 1
    _, assigned = read_ivf_index(spark, root)
    assert assigned.count() == 72


def test_compact_ivf_index_crash_windows(spark, tmp_path):
    """Crash injection at both compaction commit points: (a) mid-write
    tmp dir → invisible, swept by the next compaction; (b) after the
    covers rename but before GC → sources invisible (no duplicate rows)
    and reclaimed by the next compaction's retry path."""
    import glob as _glob

    from v3_polars_spark.streaming import (
        compact_ivf_index,
        seed_ivf_index,
        streaming_ivf_assign,
    )
    from v3_polars_spark.streaming.ann_stream import _ASSIGNED
    from v3_polars_spark.streaming.state_store import (
        batch_dir,
        commit_compacted,
        data_dirs,
    )

    seed = _ivf_vectors(spark, range(0, 16))
    src = str(tmp_path / "src")
    os.makedirs(src)
    _ivf_write_segs(spark, src, [range(16, 24), range(24, 32)])
    root, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")
    seed_ivf_index(seed, root, n_centroids=4, iters=1)
    streaming_ivf_assign(_ivf_reader(spark, src), root, ckpt)

    # (a) dead mid-write attempt
    final = batch_dir(root, _ASSIGNED, -2)
    tmp = os.path.join(
        os.path.dirname(final), ".tmp-" + os.path.basename(final) + "-dead"
    )
    _ivf_vectors(spark, range(900, 903)).write.parquet(tmp)
    n_live = sum(
        spark.read.parquet(d).count() for d in data_dirs(root, _ASSIGNED)
    )
    assert n_live == 32  # tmp invisible

    # (b) committed covers manifest, GC never ran (simulated crash):
    # replay exactly what compact_ivf_index's step-3 commit does
    adirs = data_dirs(root, _ASSIGNED)
    ids = [int(os.path.basename(d).split("=")[1]) for d in adirs]
    df = spark.read.option(
        "basePath", os.path.join(root, _ASSIGNED)
    ).parquet(*adirs).drop("batch")
    commit_compacted(df, final, ids)
    # sources still on disk but EXCLUDED: no duplicates
    assert sorted(data_dirs(root, _ASSIGNED)) == [final]
    assert spark.read.parquet(final).count() == 32

    # next compaction = retry path: sweeps tmp, GCs covered sources;
    # single remaining segment → no further rewrite needed
    stats = compact_ivf_index(spark, root)
    assert stats["segments_before"] == 1 and not stats["compacted"]
    assert _glob.glob(os.path.join(root, _ASSIGNED, ".tmp-*")) == []
    assert sorted(
        _glob.glob(os.path.join(root, _ASSIGNED, "batch=*"))
    ) == [final]
    assert spark.read.parquet(final).count() == 32


def _drift_vectors(spark, ids, mode, dim=12):
    """Deterministic embedding families for the drift scenario.

    ``seed``: 4 tight clusters on axes e0..e3 (tiny tails on e4..e7 give
    the seed-trained centroids their only mass in the drifted region —
    the split mechanism below). ``drift``: 2 clusters on the MIDPOINTS of
    dim pairs (e4,e5) / (e6,e7) — orthogonal to the seed clusters, so the
    corpus mean moves and centroid_drift sees it (cosine ~0.04) — with
    members alternately nudged toward either dim of their pair: the
    seed-era quantizer assigns each half to a DIFFERENT inverted list
    (whichever seed centroid carries the matching e4..e7 tail), so
    n_probe=1 recall collapses to ~0.5 until the quantizer is retrained.
    Member jitter sits on the NEUTRAL e9 so the two halves of a cluster
    rank symmetrically in the exact top-k (the split actually costs
    recall instead of one half dominating the truth). ``query``: exact
    pair midpoints (unbiased between the halves), distinguished on e8."""
    rows = []
    for i in ids:
        v = [0.0] * dim
        if mode == "seed":
            v[i % 4] = 1.0
            v[4 + i % 4] = 0.05 * ((i // 4) % 3)
        elif mode == "drift":
            c = i % 2
            p, q = 4 + 2 * c, 5 + 2 * c
            v[p] = v[q] = 1.0
            v[p if (i // 2) % 2 == 0 else q] += 0.25
            v[9] = 0.02 * ((i // 4) % 3)
        else:  # query
            c = i % 2
            p, q = 4 + 2 * c, 5 + 2 * c
            v[p] = v[q] = 1.0
            v[8] = 0.001 * (i % 7)
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_quantizer_drift_retrain_recall_recovers(spark, tmp_path):
    """End-to-end quantizer refresh: drift detected by centroid_drift,
    retrain_ivf_index re-assigns the old index's vectors under fresh
    centroids, the serving pointer swaps atomically, the drain RESUMES
    against the new root on the same checkpoint, and recall@10 (n_probe=1,
    vs brute-force ground truth) recovers from ~0.5 to ~1."""
    from v3_polars_spark.datapipe.similarity import (
        ann_recall_check,
        centroid_drift,
        cosine_topk,
        ivf_search,
    )
    from v3_polars_spark.streaming import (
        current_ivf_root,
        read_ivf_index,
        retrain_ivf_index,
        seed_ivf_index,
        set_current_ivf_root,
        streaming_ivf_assign,
    )

    base = str(tmp_path / "serving")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def recall(root, queries, corpus):
        centroids, assigned = read_ivf_index(spark, root)
        approx = ivf_search(centroids, assigned, queries, k=10, n_probe=1)
        exact = cosine_topk(corpus, queries, k=10)
        return ann_recall_check(approx, exact, k=10).collect()[0][
            "mean_recall"
        ]

    # seed on the old distribution, serve root1
    seed = _drift_vectors(spark, range(0, 40), "seed")
    root1 = str(tmp_path / "idx1")
    seed_ivf_index(seed, root1, n_centroids=4, iters=2)
    set_current_ivf_root(base, root1)
    assert current_ivf_root(base) == root1

    # the corpus drifts: two streamed segments of midpoint clusters
    drift_ids = list(range(100, 148))
    half = len(drift_ids) // 2
    for k, ids in enumerate([drift_ids[:half], drift_ids[half:]]):
        d = f"{src}/seg{k}"
        _drift_vectors(spark, ids, "drift").coalesce(1).write.parquet(d)
    import glob as _glob
    import time as _time

    t0 = _time.time() - 3600
    for k, f in enumerate(sorted(_glob.glob(src + "/seg*/*"))):
        os.utime(f, (t0 + k, t0 + k))
    streaming_ivf_assign(_ivf_reader(spark, src), current_ivf_root(base), ckpt)

    # 1. drift detection: seed segment vs streamed batches point apart
    _, assigned = read_ivf_index(spark, current_ivf_root(base))
    labeled = assigned.select(
        F.when(F.col("batch") < 0, "seed").otherwise("stream").alias("era"),
        F.col("__v").alias("embedding"),
    )
    drift_cos = centroid_drift(labeled, "era").collect()[0]["cosine"]
    assert drift_cos < 0.9, drift_cos

    # 2. recall degraded on the drifted queries (their clusters straddle
    # two seed-era lists; n_probe=1 finds only one side)
    dq = _drift_vectors(spark, range(200, 216), "query").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus1 = _drift_vectors(spark, range(0, 40), "seed").union(
        _drift_vectors(spark, drift_ids, "drift")
    )
    recall_before = recall(current_ivf_root(base), dq, corpus1)
    assert recall_before < 0.7, recall_before

    # 3. retrain into a fresh root (old root stays servable), atomic swap
    root2 = str(tmp_path / "idx2")
    retrain_ivf_index(spark, current_ivf_root(base), root2, n_centroids=6, iters=2)
    set_current_ivf_root(base, root2)
    assert current_ivf_root(base) == root2

    # 4. the SAME checkpoint resumes against the new root: old segments
    # were carried over by the re-assignment, only NEW data drains
    extra_ids = list(range(148, 156))
    d = f"{src}/seg2"
    _drift_vectors(spark, extra_ids, "drift").coalesce(1).write.parquet(d)
    for k, f in enumerate(sorted(_glob.glob(d + "/*"))):
        os.utime(f, (t0 + 100 + k, t0 + 100 + k))
    streaming_ivf_assign(_ivf_reader(spark, src), current_ivf_root(base), ckpt)
    _, assigned2 = read_ivf_index(spark, root2)
    assert {r["vec_id"] for r in assigned2.collect()} == (
        set(range(0, 40)) | set(drift_ids) | set(extra_ids)
    )

    # 5. recall recovered above the 0.95 SLO
    corpus2 = corpus1.union(_drift_vectors(spark, extra_ids, "drift"))
    recall_after = recall(root2, dq, corpus2)
    assert recall_after >= 0.95, (recall_before, recall_after)


def test_compact_corpus_state_probe_identical_and_resumable(spark, tmp_path):
    """compact_corpus_state rewrites every state kind's per-trigger dirs:
    read_corpus identical, the NEXT batch dedups identically to an
    uncompacted twin (the state probes see the same fingerprints/buckets/
    shingle sets), the newest trigger's dirs stay out by default, and a
    resumed drain keeps appending."""
    import glob as _glob

    from v3_polars_spark.streaming import (
        compact_corpus_state,
        read_corpus,
        streaming_corpus_dedup,
    )
    from v3_polars_spark.streaming.dedup_stream import _DOCS, _FP

    def docs_ids(root):
        return sorted(r["doc_id"] for r in read_corpus(spark, root).collect())

    roots, ckpts, srcs = {}, {}, {}
    for tag in ("c", "x"):  # c = compacted mid-way, x = untouched twin
        srcs[tag] = str(tmp_path / f"src{tag}")
        os.makedirs(srcs[tag])
        _cd_write_segs(spark, srcs[tag], _CD_SEGS[:3])
        roots[tag] = str(tmp_path / f"corpus{tag}")
        ckpts[tag] = str(tmp_path / f"ckpt{tag}")
        streaming_corpus_dedup(_cd_reader(spark, srcs[tag]), roots[tag], ckpts[tag])

    before = docs_ids(roots["c"])
    assert before == docs_ids(roots["x"])
    files_before = len(
        _glob.glob(os.path.join(roots["c"], _FP, "batch=*", "part-*"))
    )
    stats = compact_corpus_state(spark, roots["c"])
    # newest trigger (batch=2) excluded: only batches 0,1 compact
    assert stats[_FP]["dirs_before"] == 2
    assert docs_ids(roots["c"]) == before
    remaining_fp = sorted(
        os.path.basename(d)
        for d in _glob.glob(os.path.join(roots["c"], _FP, "batch=*"))
    )
    assert remaining_fp == ["batch=-2", "batch=2"]

    # the NEXT segment (with cross-batch exact + near dups) must dedup
    # identically against compacted vs untouched state — and resume from
    # the same checkpoint
    for tag in ("c", "x"):
        _cd_write_segs(spark, srcs[tag], [_CD_SEGS[3]], start=3)
        streaming_corpus_dedup(_cd_reader(spark, srcs[tag]), roots[tag], ckpts[tag])
    assert docs_ids(roots["c"]) == docs_ids(roots["x"])
    assert set(docs_ids(roots["c"])) == _CD_SURVIVORS

    # a quiesced-drain compaction may take everything; state shrinks
    stats2 = compact_corpus_state(spark, roots["c"], exclude_newest=False)
    assert docs_ids(roots["c"]) == docs_ids(roots["x"])
    files_after = len(
        _glob.glob(os.path.join(roots["c"], _FP, "batch=*", "part-*"))
    )
    assert files_after <= files_before
    assert stats2[_DOCS]["files_after"] <= stats2[_DOCS]["files_before"]


def test_compact_corpus_state_skips_uncommitted_orphan_state(spark, tmp_path):
    """A crashed attempt can leave fp/bucket/shset dirs for a batch whose
    DOCS dir (the commit point) never landed. The replay removes and
    recomputes them — so compaction must never absorb such an orphan:
    baking its fingerprints into the compacted state would permanently
    drop future copies of docs that were never actually kept."""
    from v3_polars_spark.streaming import (
        compact_corpus_state,
        read_corpus,
        streaming_corpus_dedup,
    )
    from v3_polars_spark.streaming.dedup_stream import _FP
    from v3_polars_spark.streaming.state_store import batch_dir, commit_write

    src = str(tmp_path / "src")
    os.makedirs(src)
    _cd_write_segs(spark, src, _CD_SEGS[:3])
    root, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    streaming_corpus_dedup(_cd_reader(spark, src), root, ckpt)

    # forge the crash: batch 3's fp state committed, docs never landed —
    # its fingerprint is doc 9's text, which SHOULD survive batch 3
    orphan = spark.createDataFrame([("deadbeef" * 4,)], "fp string")
    commit_write(orphan, batch_dir(root, _FP, 3))

    stats = compact_corpus_state(spark, root, exclude_newest=False)
    # the orphan was not a compaction source and still sits where the
    # replay's cleanup expects it
    assert os.path.isdir(batch_dir(root, _FP, 3))
    fp_dirs = sorted(
        os.path.basename(d)
        for d in __import__("glob").glob(os.path.join(root, _FP, "batch=*"))
    )
    assert fp_dirs == ["batch=-2", "batch=3"]
    # the drain replays batch 3 from scratch (cleanup path) and the
    # corpus converges to the full survivor set
    _cd_write_segs(spark, src, [_CD_SEGS[3]], start=3)
    streaming_corpus_dedup(_cd_reader(spark, src), root, ckpt)
    assert {
        r["doc_id"] for r in read_corpus(spark, root).collect()
    } == _CD_SURVIVORS
