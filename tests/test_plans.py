"""Plan-shape regression tests: the scale contracts (pushdown, pruning,
broadcast, shuffle counts) are pinned so refactors can't silently lose them."""

from pyspark.sql import functions as F

from v3_polars_spark.plans import (
    count_exchanges,
    has_broadcast_hash_join,
    pushed_filters,
    read_schema_columns,
)


def test_tenant_filter_pushes_down(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") < 10))
        .select("l_orderkey")
    )
    pf = pushed_filters(df)
    assert any("l_returnflag" in p and "EqualTo" in p for p in pf)
    assert any("l_quantity" in p and "LessThan" in p for p in pf)


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    schemas = read_schema_columns(df)
    assert schemas and sorted(schemas[0]) == ["l_orderkey", "l_quantity"]


def test_asof_join_single_window_shuffle(spark):
    """asof_join must cost exactly: right-side dedup is caller's business;
    the join itself = union + ONE window exchange."""
    from v3_polars_spark.ops import asof_join

    left = spark.createDataFrame([(1, "a")], ["t", "lv"])
    right = spark.createDataFrame([(1, 10)], ["t", "rv"])
    out = asof_join(left, right, on="t", by=[])
    assert count_exchanges(out) == 1


def test_dedup_last_is_hash_agg_not_window(spark):
    """dedup_last must not contain a Window (row_number formulation) — it's
    an aggregate with exactly one shuffle."""
    from v3_polars_spark.ops import dedup_last
    from v3_polars_spark.plans import explain_str

    df = spark.createDataFrame([(1, 2, 3)], ["k", "o", "v"])
    out = dedup_last(df, keys=["k"], order=["o"])
    plan = explain_str(out)
    assert "Window" not in plan
    assert count_exchanges(out) == 1


def test_small_dim_join_broadcasts(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    assert has_broadcast_hash_join(j)
    assert count_exchanges(j) == 0


def test_liquidity_multi_no_single_task_stage(spark, sf_dir):
    """The multi-pool liquidity plan must partition every window by pool —
    no unpartitioned Window.orderBy anywhere."""
    import __spark_entry__ as e
    from v3_polars_spark.plans import explain_str

    out = e.q_liquidity_multi(spark, sf_dir)
    plan = explain_str(out)
    assert "Window" in plan
    # unpartitioned windows plan as 'Window [..], [sort..]' with SinglePartition exchange
    assert "SinglePartition" not in plan


def test_near_dup_lsh_no_cartesian(spark, sf_dir):
    """The LSH near-dup pair join must be a hash join on (table, bucket) —
    never a cartesian/broadcast-nested-loop over the corpus."""
    from v3_polars_spark.datapipe import embedding_near_dup_lsh
    from v3_polars_spark.plans import explain_str

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_near_dup_lsh(emb, dim=64, threshold=0.4, bits=4, tables=8)
    plan = explain_str(out)
    assert "CartesianProduct" not in plan


def test_ivf_centroids_broadcast(spark, sf_dir):
    """IVF assignment and probing must broadcast the (tiny) centroid table —
    the corpus never shuffles for the cross-score."""
    from v3_polars_spark.datapipe import ivf_topk
    from v3_polars_spark.plans import explain_str

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, q, dim=64, k=5, n_centroids=4, n_probe=2)
    plan = explain_str(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_minhash_shingles_no_exchange_before_bucket_join(spark):
    """shingle_sets + explode must be exchange-free: per-doc array_distinct
    replaces the global DISTINCT shuffle."""
    from v3_polars_spark.datapipe import shingles

    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "b c d e f")], ["doc_id", "text"]
    )
    assert count_exchanges(shingles(df)) == 0


def test_quote_ladder_parallel_over_amounts(spark, sf_dir):
    """The batched-swap covering search runs against the depth array as a
    literal (folded on the driver from the collected swap frame), so the
    whole plan is the amount side, a single narrow map stage: the amounts
    are never joined, shuffled, duplicated, windowed or re-aggregated."""
    import __spark_entry__ as e
    from v3_polars_spark.plans import explain_str

    out = e.q_quote_ladder(spark, sf_dir)
    plan = explain_str(out)
    for node in ("Join", "Exchange", "HashAggregate", "Window"):
        assert node not in plan, node


def test_chain_partition_pruning(spark, tmp_path):
    """On the chain-partitioned sink layout, the tenant filter must reach
    the scan as a PartitionFilter (directory pruning), not a data filter."""
    from v3_polars_spark import tables as T
    from v3_polars_spark.plans import explain_str

    df = spark.createDataFrame(
        [("ethereum", "0xa", 1, 0), ("optimism", "0xb", 2, 0)],
        ["chain_name", "address", "block_number", "transaction_index"],
    )
    T.write_segment(df, str(tmp_path), "t")
    rd = spark.read.parquet(str(tmp_path / "t"))
    plan = explain_str(T.tenant_filter(rd, "ethereum"))
    assert "PartitionFilters" in plan
    assert "chain_name" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_shingle_split_evaluated_once(spark):
    """The normalize+split pipeline must appear exactly once in the
    optimized shingle plans — CollapseProject re-inlining it into the
    transform lambda or Generate multiplies the regex work per shingle."""
    from v3_polars_spark.datapipe import shingle_sets, shingles

    df = spark.createDataFrame([(0, "a b c d e")], ["doc_id", "text"])
    for builder in (shingles, shingle_sets):
        plan = builder(df)._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("split(") == 1, builder.__name__


def test_hashed_shingles_one_md5_pass(spark):
    """shingle_hash_sets must md5 each token exactly once: the md5
    transform and the split must each appear once in the optimized plan —
    CollapseProject re-inlining the token-hash array into the n-gram
    combine lambda would redo the md5 work n times per token."""
    from v3_polars_spark.datapipe import shingle_hash_sets

    df = spark.createDataFrame([(0, "a b c d e")], ["doc_id", "text"])
    plan = shingle_hash_sets(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5(") == 1
    assert plan.count("split(") == 1


def test_sample_fraction_no_shuffle(spark, sf_dir):
    """Hash sampling is a pure filter: zero exchanges, and the fate of a
    row never depends on partitioning."""
    from v3_polars_spark.datapipe import sample_fraction

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sample_fraction(df, 0.25, seed=1)
    assert count_exchanges(out) == 0


def test_sample_stratified_single_exchange(spark, sf_dir):
    """Per-stratum rank + per-stratum count share ONE exchange on the
    strata keys (both windows partition identically)."""
    from v3_polars_spark.datapipe import sample_stratified

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sample_stratified(df, ["lang", "source"], fraction=0.2, seed=1)
    assert count_exchanges(out) == 1


def test_source_mix_no_shuffle(spark, sf_dir):
    """Epoch expansion is per-row explode — no join, no exchange."""
    from v3_polars_spark.datapipe import source_mix

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = source_mix(df, {"src0": 2.4, "src1": 0.5})
    assert count_exchanges(out) == 0


def test_salted_join_same_result(spark):
    """Salting changes the shuffle layout, never the result — pinned on a
    deliberately skewed key distribution (one key owns 90% of rows)."""
    from v3_polars_spark.ops import salted_join

    left = spark.createDataFrame(
        [(1 if i < 900 else i % 7, i) for i in range(1000)], ["k", "v"]
    )
    right = spark.createDataFrame([(i, f"d{i}") for i in range(7)], ["k", "d"])
    plain = left.join(right, "k").select("k", "v", "d")
    salted = salted_join(left, right, "k", n_salt=8).select("k", "v", "d")
    assert plain.exceptAll(salted).isEmpty() and salted.exceptAll(plain).isEmpty()
    # left join keeps unmatched skewed rows exactly once
    left2 = left.unionByName(spark.createDataFrame([(99, -1)], ["k", "v"]))
    lj = salted_join(left2, right, "k", n_salt=4, how="left")
    assert lj.filter(F.col("k") == 99).count() == 1


def test_bucketed_join_no_exchange(spark, sf_dir, tmp_path):
    """Bucketed-bucketed equi-join on the bucket keys reads co-located
    buckets: ZERO exchanges in the join plan (the 100 TB fact-fact join
    posture — shuffle paid once at write time)."""
    from v3_polars_spark import tables as T

    old_wh = spark.conf.get("spark.sql.warehouse.dir", None)
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        T.write_bucketed(orders.select("o_orderkey", "o_orderdate"),
                         "b_orders", ["o_orderkey"], buckets=8)
        T.write_bucketed(li.select("o_orderkey", "l_quantity"),
                         "b_lineitem", ["o_orderkey"], buckets=8)
        j = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        assert count_exchanges(j) == 0
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_range_join_no_cartesian(spark, sf_dir):
    """range_join's bucketed decomposition must plan as an EQUI join on the
    bucket id — never CartesianProduct / BroadcastNestedLoopJoin, the scale
    cliff a bare lo<=p<hi predicate would produce."""
    from v3_polars_spark.ops import range_join
    from v3_polars_spark.plans import explain_str

    pts = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "value")
    iv = spark.createDataFrame(
        [(0, 0.0, 100.0), (1, 100.0, 250.0)], ["band_id", "lo", "hi"]
    )
    plan = explain_str(range_join(pts, iv, "value", "lo", "hi", 100.0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan  # Broadcast- or ShuffledHashJoin / SortMerge ok


def test_sessionize_single_shuffle(spark, sf_dir):
    """Session windows are one aggregation: a single shuffle Exchange
    (keyed on by+session), never a window-sort pass plus an agg pass."""
    from v3_polars_spark.ops import sessionize
    from v3_polars_spark.plans import count_exchanges

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = sessionize(e.select("user_id", "ts"), "ts", "30m", by=["user_id"])
    assert count_exchanges(df) <= 1


def test_hypertable_rollup_single_scan_single_shuffle(spark, sf_dir):
    """The grouping-sets rollup computes ALL resolutions in one pass:
    exactly one parquet scan of the raw events and one shuffle Exchange
    (Expand + partial agg collapse before the exchange)."""
    import re

    from pyspark.sql import functions as F

    from v3_polars_spark.ops import hypertable_rollup
    from v3_polars_spark.plans import count_exchanges, explain_str

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = hypertable_rollup(
        e, "ts", ["1h", "6h", "1d"], aggs={"n": (F.count(F.lit(1)), "sum")}
    )
    plan = explain_str(out)
    # formatted explain prints each node twice (tree + details)
    scans = len(re.findall(r"Scan parquet", plan)) // 2
    assert scans == 1, f"expected 1 raw scan, got {scans}"
    assert count_exchanges(out) == 1


def test_chunk_documents_no_shuffle(spark, sf_dir):
    """Chunking is a pure map stage — zero exchanges, runs at scan speed."""
    from v3_polars_spark.datapipe import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = chunk_documents(docs, chunk_size=200, overlap=50)
    assert count_exchanges(out) == 0


def test_zscore_stats_broadcast_join(spark, sf_dir):
    """Outlier scoring = one stats aggregate + a broadcast join back;
    the full table is never shuffled or windowed."""
    from v3_polars_spark.datapipe import zscore_outliers
    from v3_polars_spark.plans import explain_str

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = zscore_outliers(docs, "n_chars", ["lang", "source"])
    assert has_broadcast_hash_join(out)
    assert "Window" not in explain_str(out)


def test_dedup_by_url_single_shuffle_no_window(spark, sf_dir):
    from v3_polars_spark.datapipe import dedup_by_url
    from v3_polars_spark.plans import explain_str

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "n_chars",
        F.concat(F.lit("https://h.io/"), F.col("doc_id").cast("string")).alias("url"),
    )
    out = dedup_by_url(docs, "url", "doc_id", prefer_col="n_chars")
    assert "Window" not in explain_str(out)
    assert count_exchanges(out) == 1


def test_hll_sketches_partial_aggregation(spark, sf_dir):
    """Sketch build is a hash aggregate with map-side partials — exactly
    one exchange carries the (tiny) per-group sketch state."""
    from v3_polars_spark.ops import hll_sketches

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = hll_sketches(ev, "user_id", ["event_type"])
    assert count_exchanges(out) == 1


def test_expression_queries_run_in_codegen(spark, sf_dir):
    """The EXECUTED final AQE plan must show whole-stage codegen for the
    expression-heavy queries. Pre-execution explain under AQE is a
    placeholder (isFinalPlan=false, no codegen tags), which is why
    plans/audit.py executes before explaining — this pins the same
    contract the PLANS.md codegen column now records."""
    import __spark_entry__ as em
    from v3_polars_spark.plans import executed_plan_str, has_codegen

    qs = em.queries()
    for name in ("derived_math", "groupby_having"):
        plan = executed_plan_str(qs[name](spark, sf_dir))
        assert "isFinalPlan=true" in plan, name
        assert has_codegen(plan), name


def test_no_unpartitioned_window_on_data(spark, sf_dir):
    """Inventory of single-partition windows across the ENTIRE query
    surface: only the O(ticks) v3 frames (tick ladders are a few thousand
    rows by construction — SURVEY §3.2) may move all rows to one task.
    A data-sized frame acquiring an unpartitioned window is a scale bug
    this test turns into a named failure instead of a WARN in log spam."""
    import __spark_entry__ as em
    from v3_polars_spark.plans import explain_str
    from v3_polars_spark.plans.inspect import unpartitioned_window_specs

    EXEMPT_TICK_FRAMES = {"quote_fees", "quote_ladder", "swap_frame"}
    offenders = {}
    for name, fn in em.queries().items():
        specs = unpartitioned_window_specs(explain_str(fn(spark, sf_dir)))
        if specs:
            offenders[name] = specs[0]
    assert set(offenders) <= EXEMPT_TICK_FRAMES, offenders


def test_quiet_expected_jvm_warnings_no_crash(spark):
    """The bench log-quieting helper must be safe to call on any session."""
    from v3_polars_spark.session import quiet_expected_jvm_warnings

    quiet_expected_jvm_warnings(spark)


def test_partition_pruning_executed_metrics(spark, tmp_path):
    """Executed-plan scan metrics must show the scan actually SKIPPED
    files under a partition predicate — the runtime truth behind the
    PLANS.md files_read column (explain strings never carry file counts)."""
    from v3_polars_spark.plans import executed_scan_metrics

    path = str(tmp_path / "part")
    spark.range(10_000).select(
        (F.col("id") % 8).alias("p"), F.col("id")
    ).write.partitionBy("p").parquet(path)

    pruned = executed_scan_metrics(
        spark.read.parquet(path).filter(F.col("p") == 3).agg(F.sum("id"))
    )
    full = executed_scan_metrics(spark.read.parquet(path).agg(F.sum("id")))
    ps = next(s for s in pruned if "parquet" in s["node"].lower())
    fs = next(s for s in full if "parquet" in s["node"].lower())
    assert int(ps["numPartitions"]) == 1
    assert int(fs["numPartitions"]) == 8
    assert int(ps["numFiles"]) * 2 <= int(fs["numFiles"])


def test_keyed_cache_zero_query_time_exchanges(spark, sf_dir):
    """Pin the keyed working-set-cache claims (__spark_entry__._CACHE_KEYS):
    queries whose groupBy/window/join keys cluster on the cache key run
    with ZERO query-time shuffles — the only Exchange in their executed
    plan is the cache's one-time population repartition, attributed
    separately by count_exchanges_split."""
    import __spark_entry__ as em
    from v3_polars_spark.plans import count_exchanges_split

    qs = em.queries()
    for name in ("dedup_last", "cumsum", "asof_join"):
        split = count_exchanges_split(qs[name](spark, sf_dir))
        assert split["query"] == 0, (name, split)
        assert split["cache_build"] >= 1, (name, split)


def test_theta_join_only_exchange_is_agg_regroup(spark, sf_dir):
    """theta_join's orders⋈lineitem SMJ is co-partitioned on the cache key
    (zero join-side shuffles); its single query-time Exchange is the
    O(#priorities)-row regroup onto the AGGREGATE key after the partial
    agg — unavoidable (output keys differ from join keys) and tiny."""
    import __spark_entry__ as em
    from v3_polars_spark.plans.inspect import (
        _walk_exchange_nodes,
        count_exchanges_split,
    )

    df = em.queries()["theta_join"](spark, sf_dir)
    split = count_exchanges_split(df)
    assert split == {"query": 1, "cache_build": 2}, split
    acc: list = []
    _walk_exchange_nodes(
        df._jdf.queryExecution().executedPlan(), acc, False, set()
    )
    q_ex = [n for kind, n in acc if kind == "query"]
    assert len(q_ex) == 1
    # the surviving exchange partitions on the agg key, not a join key
    assert "o_orderpriority" in q_ex[0].outputPartitioning().toString()


def test_near_match_ids_broadcast_new_no_ref_shuffle(spark):
    """Pin the streaming incremental-dedup shuffle contract: with
    broadcast_new=True the candidate join broadcasts the (bounded)
    micro-batch buckets, so the corpus-sized reference state is SCANNED,
    never shuffled — per-trigger shuffle stays O(batch) as the kept
    corpus grows."""
    from pyspark.sql import functions as F

    from v3_polars_spark.datapipe.dedup import (
        _band_buckets,
        near_match_ids,
        shingle_hash_sets,
    )
    from v3_polars_spark.plans import explain_str

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.concat(F.lit(f"t{i}x"), F.col("id") % 7) for i in range(12)]
        ).alias("text"),
    )
    ref = spark.range(200, 5000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.concat(F.lit(f"t{i}x"), F.col("id") % 11) for i in range(12)]
        ).alias("text"),
    )
    sets_new = shingle_hash_sets(docs)
    sets_ref = shingle_hash_sets(ref)
    bk_new = _band_buckets(sets_new, "doc_id", 16, 4)
    bk_ref = _band_buckets(sets_ref, "doc_id", 16, 4)
    out = near_match_ids(sets_new, bk_new, sets_ref, bk_ref, broadcast_new=True)
    plan = explain_str(out)
    # the candidate join is a broadcast hash join (new side build) —
    # nothing in the plan shuffles the reference buckets on (band, bucket)
    assert "BroadcastHashJoin [band" in plan.replace("#", " ").replace(
        "band 0", "band"
    ) or "BroadcastHashJoin" in plan
    import re

    # no shuffle exchange partitions on (band, bucket) — the ref side
    # streams; the only exchanges allowed are the aggregates' own
    assert not re.search(r"Exchange hashpartitioning\(band", plan), plan
    # the VERIFY joins are pinned broadcast too: the corpus shingle-set
    # state is never shuffled on __id_ref (would be O(corpus)/trigger)
    assert not re.search(r"Exchange hashpartitioning\(__id_ref", plan), plan


def test_explode_does_not_reinline_array_expr(spark, sf_dir):
    """Pin the InferFiltersFromGenerate exclusion (session.py): without
    it, Spark infers `size(shset) > 0` under the band-bucket explode and
    predicate pushdown substitutes the ENTIRE computed-array expression
    into the filter — the interpreted tokenize+md5 shingle pipeline runs
    ~11x per row (289k raw docs: >9.5 min vs 2.9 s). The optimized plan
    must contain the md5 token-hash transform exactly once."""
    from v3_polars_spark.datapipe.dedup import _band_buckets, shingle_hash_sets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        _band_buckets(shingle_hash_sets(docs), "doc_id", 16, 4)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("md5(") == 1, f"md5 inlined {plan.count('md5(')}x"
