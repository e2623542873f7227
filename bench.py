"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a noop write (full computation, no driver
collect overhead). Both engines are measured at steady state: one full
UNTIMED pass over the headline set first (per engine), then min-of-3
timed trials with the two engines ALTERNATING per trial of the same
query — paired measurement, so a transient load spike on a shared
machine degrades both engines alike instead of landing entirely on
whichever ran during it. The warm-up pass amortizes one-time process
costs that are not per-query costs on any long-lived cluster — JVM C2
compilation of the Spark scan/agg/join/exchange operators themselves and
whole-stage-codegen class compilation (measured ~3 s across the headline
set on a cold JVM, i.e. ~35% of the cold total was compiler time, not
query time). The comparison is steady-state vs steady-state.

Honest timed region (round-13 measurement fix): before EVERY timed Spark
trial, the per-query persisted intermediates (shingle sets, collapse
members/reps, vocab, encode frames — everything `_track`ed) are dropped
and re-registered unmaterialized (``reset_intermediates``), so each trial
executes the query's own collapse/aggregate/encode work inside the timed
window — within-trial multi-consumer reuse (the reason the persists
exist) still applies, but nothing computed by the warm-up or a previous
trial is served back as a cache read. Previously the warm-up pass
materialized those intermediates once and every timed trial reused them,
which under-reported the per-execution cost of the dedup/unigram-family
queries; DuckDB always re-executed its full query per trial, so the
comparison was asymmetric. The session-level working-set caches (the
base tables — the reference's in-RAM v3Pool model) stay warm for both
engines: DuckDB's analog is the OS page cache over the same files.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# min-of-N trials per engine per query (paired, alternating). The driver
# gate uses the default 3; the committed sf1 artifacts use 5 so
# sub-second rows aren't quoted off a single scheduling-noise draw
# (BENCH_NOTES round-10 protocol note).
TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))

# headline set: the flagship v3 pipeline + the operator families that
# dominate cost at scale (joins, window math, dedup, resample)
HEADLINE = [
    "groupby_having",
    "theta_join",
    "asof_join",
    "dedup_last",
    "resample_6h",
    "cumsum",
    "topk",
    "derived_math",
    "liquidity_dist",
    "liquidity_timeline",
    "quote_ladder",
    "series_pipeline",
    "dp_dedup_exact",
    "dp_minhash_lsh",
    "dp_embed_topk_ivf",
    "dp_text_stats",
    "dp_chunk",
    "dp_unigram",
]

# Optional ADDITIVE extra entries for committed evidence runs (honest
# per-execution numbers of queries outside the driver's headline set,
# e.g. SPARK_GRAFT_BENCH_EXTRA=dp_token_shards,dp_e2e_pipeline). The
# default headline set is never filtered or reordered.
HEADLINE += [
    q
    for q in os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "").split(",")
    if q and q not in HEADLINE
]


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    import __spark_entry__ as entrymod
    from v3_polars_spark.session import (
        get_spark,
        quiet_expected_jvm_warnings,
        tune_shuffle_partitions,
    )

    # fail on a misspelled SPARK_GRAFT_BENCH_EXTRA name before paying for
    # a Spark session, not with a KeyError after the warm-up starts
    qs = entrymod.queries()
    unknown = [q for q in HEADLINE if q not in qs]
    if unknown:
        sys.exit(f"bench.py: unknown query name(s): {', '.join(unknown)}")

    spark = get_spark(app_name="bench")
    # mute the expected WindowExec no-partition warning from the O(ticks)
    # v3 frames; data-sized frames are pinned window-partitioned by
    # test_plans, so anything still noisy in the tail is a real problem
    quiet_expected_jvm_warnings(spark)
    # size shuffle partitions to the benchmark working set (the same rule
    # that yields thousands of partitions at 100 TB yields the floor here)
    input_bytes = sum(
        os.path.getsize(os.path.join(SF_DIR, f))
        for f in os.listdir(SF_DIR)
        if f.endswith(".parquet")
    )
    tune_shuffle_partitions(spark, input_bytes)

    from v3_polars_spark.datapipe import (
        release_intermediates,
        reset_intermediates,
    )

    sf = SF_DIR.rstrip("/").split("sf")[-1]

    # untimed warm-up pass: run every headline query once so JIT/codegen
    # compilation and the session-level working-set caches are populated
    # before any timing starts (see module docstring). Per-query persisted
    # intermediates built here are dropped again before every timed trial
    # (reset_intermediates below) — the warm-up only buys compilation and
    # base-cache state, never query results.
    for name in HEADLINE:
        _force(qs[name](spark, SF_DIR))

    # PAIRED measurement: the two engines alternate per trial of the SAME
    # query, so a transient load spike (another process on a shared
    # machine) hits both engines alike instead of landing entirely on
    # whichever engine happened to run during it. min-of-3 per engine.
    oracles = entrymod.oracle_sql()
    con = _duckdb_connection()
    if con is not None:
        for name in HEADLINE:  # symmetric untimed warm-up (see docstring)
            if oracles.get(name):
                con.execute(oracles[name]).fetchall()

    timings: dict[str, float] = {}
    duck_timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        sql = oracles.get(name)
        s_best = d_best = float("inf")
        for _ in range(TRIALS):
            # drop per-query intermediates OUTSIDE the timed window so the
            # trial below pays the query's own intermediate-build cost
            # (honest timed region — see module docstring)
            reset_intermediates()
            t0 = time.perf_counter()
            _force(fn(spark, SF_DIR))
            s_best = min(s_best, time.perf_counter() - t0)
            if con is not None and sql:
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                d_best = min(d_best, time.perf_counter() - t0)
        timings[name] = round(s_best, 4)
        if con is not None and sql:
            duck_timings[name] = round(d_best, 4)
    release_intermediates()

    total = round(sum(timings.values()), 4)
    duck_total = round(sum(duck_timings.values()), 4) if duck_timings else None

    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "duckdb_baseline_total": duck_total,
                "duckdb_baseline": duck_timings,
                "vs_duckdb": round(total / duck_total, 3) if duck_total else None,
            }
        )
    )


def _duckdb_connection():
    """DuckDB yardstick connection with the same parquet registered as
    views (BASELINE.md: baseline = duckdb executing the equivalent SQL on
    the same machine; threads left at DuckDB's default = all cores,
    matching local[N] Spark). Returns None if duckdb is unavailable."""
    try:
        import duckdb
    except ImportError:
        return None
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


if __name__ == "__main__":
    main()
