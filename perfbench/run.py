"""Repository benchmark: one workload per run, one closed-loop client.

    python3 perfbench/run.py --workload pool_session --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Generates the workload's inputs from
``--seed`` under ``.perfbench_work/``, starts Spark at ``local[nproc]``,
sets up three times (the median is ``setup_s``), measures ``--seconds``
of rounds in chunks between the set-ups, and checks every output against
an oracle outside the timed region. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` holding every
end-to-end metric of ``BENCHMARK.json`` (``--trace 0``) or every
per-layer metric (``--trace 1``). The line before it holds the
workload's own detail metrics. A traced run also writes its spans and
per-call Spark counters to ``.perfbench_out/trace-<workload>-<seed>.json``.
See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from wl_surface_batch import SURFACE_QUERIES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pool_session", "surface_batch")
END_TO_END = ("setup_s", "round_ms", "peak_mem_mb")
PER_LAYER = (
    "session.start_s", "entry.warmup_s", "entry.cache_bytes",
    "driver.build_ms", "driver.plan_ms",
    "spark.jobs", "spark.stages", "spark.tasks",
    "spark.exec_run_ms", "spark.exec_cpu_ms", "spark.cpu_util",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.peak_exec_mem_bytes", "spark.gc_ms",
    "spark.rows_examined_per_result", "spark.failed_tasks",
    "v3.pool_init_ms", "v3.swap_precompute_ms", "v3.swap_kernel_ms",
    "v3.memo_hit_ratio", "v3.liq_ticks",
    "sources.connector_ms", "sources.connector_calls",
    "tables.segments_written", "tables.files_written", "tables.bytes_written",
    "v3.refresh_ms", "v3.refresh_rebuilds",
    *(f"query.{q}_s" for q in SURFACE_QUERIES),
    "control.duckdb_s", "trace.overhead_frac",
)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose one of {', '.join(WORKLOADS)}")
    try:
        args.seed = int(args.seed)
    except ValueError:
        fail(f"--seed must be a non-negative integer, got {args.seed!r}")
    if args.seed < 0:
        fail(f"--seed must be a non-negative integer, got {args.seed}")
    if not 1 <= args.seconds <= 600:
        fail(f"--seconds must be within 1..600, got {args.seconds}")
    return args


def load_spec() -> dict:
    """BENCHMARK.json, checked against the names this benchmark emits so a
    renamed or misspelled metric fails before any work starts."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(path) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read {path}: {e}")
    for key, names in (
        ("workloads", WORKLOADS), ("end_to_end", END_TO_END), ("per_layer", PER_LAYER)
    ):
        listed = [m["name"] for m in spec.get(key, [])]
        unknown = sorted(set(names) - set(listed))
        extra = sorted(set(listed) - set(names))
        if unknown:
            fail(f"{key}: {unknown} not in BENCHMARK.json")
        if extra:
            fail(f"{key}: BENCHMARK.json lists {extra}, which this benchmark does not emit")
    return spec


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    spec = load_spec()
    sys.path.insert(0, ROOT)
    try:
        import v3_polars_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        fail(f"cannot import the program under test from {ROOT}: {e}")

    from harness import Ctx, PeakRSS

    import wl_pool_session
    import wl_surface_batch

    workload = {"pool_session": wl_pool_session, "surface_batch": wl_surface_batch}[args.workload]

    ctx = Ctx(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    mem = PeakRSS()
    mem.start()
    t0 = time.perf_counter()
    try:
        res = workload.run(ctx)
        if res.tracer is not None:
            gap_ms = res.tracer.check_nesting()
            if gap_ms > 1.0:
                raise RuntimeError(f"spans do not nest: {gap_ms:.3f} ms unaccounted")
            res.tracer.write(
                os.path.join(ctx.out, f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "layers": res.layers,
                 "self_time_gap_ms": gap_ms},
            )
    finally:
        ctx.close()
        peak_mb = mem.stop()
    wall = time.perf_counter() - t0

    from harness import median, round_ms

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        layers = {"session.start_s": ctx.session_start_s, **res.layers}
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": units[n]} for n in PER_LAYER}
    else:
        values = {
            "setup_s": median(res.setups_s),
            "round_ms": round_ms(res.parts_ms),
            "peak_mem_mb": peak_mb,
        }
        metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in END_TO_END}
    detail = {
        "workload": args.workload, "seed": args.seed, "wall_s": round(wall, 3),
        "setups_s": [round(x, 3) for x in res.setups_s],
        "rounds_ms": [round(x, 1) for x in res.rounds_ms],
        "error_rate": {"value": res.failed / max(res.attempted, 1), "unit": "fraction"},
        "peak_mem_mb": {"value": peak_mb, "unit": "MB"},
        **{k: {"value": v, "unit": u} for k, (v, u) in res.detail.items()},
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
