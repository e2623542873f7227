"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the configs below are chosen so the same
code is correct and fast on a 1000-executor cluster:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned partition counts.
- UTC session timezone: the reference stores ``block_timestamp`` as UTC
  (reference v3/helpers/connectors/allium.py:315); all timestamp semantics
  here are UTC so results are cluster-timezone-independent.
- Arrow enabled: every driver<->executor pandas exchange (Pandas UDFs,
  ``toPandas``) is Arrow-batched, never row-pickled.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "v3-polars-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for tests/bench; on a
    real cluster pass ``None`` with a preconfigured environment and only the
    tuning confs apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Python workers inherit PYTHONPATH from the driver process: export
    # the package root so mapInPandas/mapInArrow closures that reference
    # package modules (multimodal codecs, etc.) resolve even when the
    # driver was launched from OUTSIDE the repo (no --py-files in local
    # mode). Must happen before the JVM starts; harmless if it already
    # did (the current session is simply returned by getOrCreate).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + _pp if _pp else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=true (Spark's default): coalescing stops at the
        # cluster's default parallelism instead of collapsing small shuffles
        # to one advisory-sized (64M) partition. The flag only matters when
        # a shuffle is SMALLER than cores x advisory size — exactly the case
        # where collapsing to 1 task serializes the reduce side (measured
        # 0.84s -> 0.71s on a cached 600k-row join at local[32]). At 100 TB
        # every shuffle dwarfs that product, both settings coalesce to the
        # advisory size, and the flag is a no-op — so `true` is free at
        # scale and strictly better at interactive sizes.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 64M broadcast threshold (default 10M): the decision is made per
        # join from ACTUAL relation sizes (cached-relation stats, or AQE
        # runtime stats), so raising the cap never broadcasts an unbounded
        # side — it lets dimension tables in the 10-64M band (orders at
        # bench sf, the pools dim, LSH candidate sets) skip both exchanges.
        # 64M replicated to executors with multi-GB heaps is the standard
        # production posture; a 100 TB fact side is unaffected (it is never
        # the build side, and sizes above the cap still sort-merge).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let Python Data Sources (sources/pyds.py) receive pushed filters —
        # chain/block-bound pruning happens at slice-planning time
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # InferFiltersFromGenerate infers `size(e) > 0` below every
        # explode; predicate pushdown then substitutes e's FULL expression
        # into the filter, and HOF lambdas get no common-subexpression
        # elimination — for explode(computed-array) ops (shingles, band
        # buckets, chunking) the interpreted tokenize+md5 pipeline ends up
        # evaluated ~11x per row (found round-7 driving the streaming-
        # dedup seed over 289k raw docs: >9.5 min -> 2.9 s excluded,
        # optimized plan md5 count 11 -> 1). The inferred filter only
        # pre-prunes empty arrays, which non-outer explode drops anyway —
        # excluding the rule is semantics-neutral. Pinned by
        # tests/test_plans.py::test_explode_does_not_reinline_array_expr.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def tune_shuffle_partitions(
    spark: SparkSession,
    input_bytes: int,
    per_partition_bytes: int = 64 * 1024 * 1024,
    expansion: float = 4.0,
) -> int:
    """Size ``spark.sql.shuffle.partitions`` to the working set.

    The rule is scale-invariant: partitions = working set / 64 MB target,
    where the working set is the on-disk input times a decompression/
    decode ``expansion`` factor. At 100 TB that yields the thousands of
    partitions a 1000-executor cluster needs; at bench SF (tens of MB) it
    yields the floor — a fixed count is wrong in both directions (tiny
    tasks whose scheduling dominates sub-second queries, or giant spilling
    tasks at scale). Floor = the working-set cache's split width,
    ``min(8, defaultParallelism)`` (the cache is split 8 ways at
    interactive sizes but never wider than the core count), so reduce
    stages are never narrower than the cached map stages feeding them.
    AQE still adapts per-stage on top of this static default.

    Session-wide side effects: both ``spark.sql.shuffle.partitions`` and
    ``spark.sql.files.maxPartitionBytes`` are set on the session, so later
    scans of differently-sized tables inherit a split size tuned for this
    one. Call again before switching working sets, or snapshot/restore
    the confs if a caller needs to scope the change.
    """
    floor = min(8, spark.sparkContext.defaultParallelism)
    parts = max(floor, int(input_bytes * expansion) // per_partition_bytes)
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    # SCAN parallelism follows the same wrong-in-both-directions rule:
    # the 128 MB maxPartitionBytes default is right when input >> cores
    # x 128 MB, but a 1 GB table on 32 cores splits into only ~9 COLD
    # scan tasks. Target ~3 scan tasks per core, clamped to
    # [16 MB, 128 MB] so huge inputs keep the standard split and tiny
    # inputs don't shatter into scheduling overhead. (Benchmarks that
    # serve from the materialized working-set cache are bandwidth-bound
    # and unaffected — measured neutral at sf0.1 and sf1; the win is on
    # cold decompress-bound paths.)
    par = max(1, spark.sparkContext.defaultParallelism)
    split = int(input_bytes // (3 * par))
    split = max(16 * 1024 * 1024, min(128 * 1024 * 1024, split))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    return parts


def quiet_expected_jvm_warnings(spark: SparkSession) -> None:
    """Silence the JVM warn spam that known-correct plans emit, so bench
    tails stay readable and a REAL regression can't hide in 60 lines of
    expected noise.

    Today that is one message: ``WindowExec: No Partition Defined`` from
    the O(ticks) v3 frames (v3/swap.py, v3/liquidity.py), where a global
    window over a few-thousand-row tick frame is the documented-correct
    idiom. Data-sized frames are separately FORBIDDEN from unpartitioned
    windows by tests/test_plans.py::test_no_unpartitioned_window_on_data —
    the log level only mutes the logger, never the contract.
    """
    try:
        jvm = spark._jvm
        level = jvm.org.apache.logging.log4j.Level.ERROR
        for cls in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.sql.execution.window.WindowExecBase",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                cls, level
            )
    except Exception:
        pass  # non-log4j2 deployments: warnings are cosmetic, never fail


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an externally created
    session (e.g. the driver's). Only touches confs that are safe to set
    after startup."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for k, v in [
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.python.filterPushdown.enabled", "true"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    # see get_spark: prevents the explode-filter re-inline pathology.
    # APPEND to (never clobber) rules the embedding application already
    # excluded on its session.
    rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    try:
        existing = spark.conf.get("spark.sql.optimizer.excludedRules", None)
        rules = [r.strip() for r in (existing or "").split(",") if r.strip()]
        if rule not in rules:
            rules.append(rule)
            spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))
    except Exception:
        pass
    return spark
