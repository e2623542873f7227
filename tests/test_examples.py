"""Every script in ``examples/`` runs here, at the smallest input it accepts.

Fast tier: the quickstarts and the paper's three v3 workflows (quickstart,
warehouse_ingest, liquidity_gif) run their ``main()`` in the test session's
SparkSession, whose ``stop`` is a no-op for the duration, with every output
under ``tmp_path``. The v3 scripts read seeded pools written by
``perfbench/gen_pool.py`` in place of the reference example data; the pool
address and ``as_of`` they hard-code are module constants set here.

Slow tier: the two quickstarts that take over 20 s (datapipe_quickstart,
e2e_pretrain_pipeline), and the artifact and input generators, each in at
most one extra Spark process.
"""

import importlib.util
import json
import os
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import SparkSession

from test_v3_kernels import _gen_pool

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXAMPLES = os.path.join(REPO, "examples")
# headline queries that read the reference example data
REF_QUERIES = {"liquidity_dist", "liquidity_timeline", "quote_ladder"}


@pytest.fixture
def run_example(spark, monkeypatch, tmp_path):
    """``run(name, *argv, **constants)``: load ``examples/<name>.py`` with
    ``sys.argv`` set to its positional arguments, set the given module
    constants, then call ``main()`` and return the module."""
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(sys, "path", list(sys.path))

    def run(name, *argv, **constants):
        path = os.path.join(EXAMPLES, f"{name}.py")
        monkeypatch.setattr(sys, "argv", [path, *map(str, argv)])
        spec = importlib.util.spec_from_file_location(f"example_{name}", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        for key, value in constants.items():
            monkeypatch.setattr(mod, key, value)
        mod.main()
        return mod

    return run


@pytest.fixture(scope="module")
def pools(tmp_path_factory):
    """(generator module, data dir, pool, as_of) for two seeded pools."""
    gp = _gen_pool()
    data = str(tmp_path_factory.mktemp("example_pools"))
    ds = gp.pool_dataset(
        11, data, n_pools=2, n_swaps=200, n_mb=80, span_blocks=4_000, n_syncs=1
    )
    return gp, data, ds.pools[0], gp.B0 + 3_000 + 0.00255


def test_quickstart(run_example, pools, capsys):
    gp, data, pool, as_of = pools
    run_example(
        "quickstart", data, POOL=pool.address, AS_OF=as_of,
        SERIES_START=gp.GENESIS.replace(tzinfo=None),
    )
    out = capsys.readouterr().out
    assert f"liquidity distribution: {len(pool.liquidity_at(as_of))} initialized ticks" in out
    assert "swap 1000 UNI -> " in out
    assert "after exact dedup:" in out


def test_warehouse_ingest(run_example, pools, capsys):
    _, data, pool, as_of = pools
    run_example("warehouse_ingest", data, POOL=pool.address, AS_OF=as_of)
    out = capsys.readouterr().out
    assert f"on landed data: {len(pool.liquidity_at(as_of))} ticks" in out


def test_liquidity_gif(run_example, pools, tmp_path):
    from v3_polars_spark.datapipe.gif import decode_gif

    gp, data, pool, _ = pools
    frames = [gp.B0 + 1_000.5, gp.B0 + 2_000.5, gp.B0 + 3_000.5]
    out = tmp_path / "liquidity.gif"
    mod = run_example(
        "liquidity_gif", out, DATA=data, POOL=pool.address, FRAMES=frames
    )
    rasters, _ = decode_gif(out.read_bytes())
    assert rasters.shape == (len(frames), mod.H, mod.W)
    assert (rasters == 1).any()  # some liquidity bar was drawn


@pytest.mark.parametrize(
    "name, extra",
    [
        ("tokenizer_quickstart", (4, 16)),
        ("streaming_corpus_dedup", ()),
        ("incremental_dedup", ()),
        ("quality_monitor", ()),
        # over 20 s each at sf0.001 on 4 cores: slow tier
        pytest.param("datapipe_quickstart", (), marks=pytest.mark.slow),
        pytest.param("e2e_pretrain_pipeline", (2,), marks=pytest.mark.slow),
    ],
)
def test_datapipe_example(run_example, sf_dir, name, extra, capsys):
    run_example(name, sf_dir, *extra)
    assert capsys.readouterr().out


def _spark_subprocess(args, **env):
    """Run ``python <args>`` in the repo with a small driver heap; stdout."""
    out = subprocess.run(
        [sys.executable, *args], cwd=REPO, capture_output=True, text=True,
        timeout=900, env={**os.environ, "SPARK_DRIVER_MEM": "2g", **env},
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


def _headline():
    import bench

    return [q for q in bench.HEADLINE if q not in REF_QUERIES]


@pytest.mark.slow
def test_parallelism_curve_worker(sf_dir):
    names = _headline()
    stdout = _spark_subprocess(
        ["examples/parallelism_curve.py", "--worker", "2", sf_dir],
        SPARK_GRAFT_CURVE_QUERIES=",".join(names), SPARK_GRAFT_CURVE_TRIALS="1",
    )
    line = next(ln for ln in stdout.splitlines() if ln.startswith("WORKER_JSON:"))
    got = json.loads(line[len("WORKER_JSON:"):])
    assert got["cores"] == 2 and sorted(got["walls"]) == sorted(names)


@pytest.mark.slow
def test_bench_concurrent(sf_dir):
    script = os.path.join(EXAMPLES, "bench_concurrent.py")
    stdout = _spark_subprocess(
        [
            "-c",
            "import runpy, sys, bench\n"
            f"bench.HEADLINE[:] = {_headline()!r}\n"
            f"sys.argv = [{script!r}, {sf_dir!r}, '2']\n"
            f"runpy.run_path({script!r}, run_name='__main__')\n",
        ]
    )
    got = json.loads(stdout.strip().splitlines()[-1])
    assert got["n_clients"] == 2 and sorted(got["serial"]) == sorted(_headline())


@pytest.mark.slow
@pytest.mark.parametrize("name", ["make_skewed_sf1", "make_spanned_sf1"])
def test_scale_point_generator(name, sf_dir, tmp_path, monkeypatch):
    import duckdb

    dst = tmp_path / "sf"
    monkeypatch.setattr(sys, "argv", [name, str(dst), sf_dir])
    spec = importlib.util.spec_from_file_location(
        f"example_{name}", os.path.join(EXAMPLES, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main()
    assert sorted(os.listdir(dst)) == sorted(os.listdir(sf_dir))
    n = duckdb.sql(f"SELECT count(*) FROM '{dst}/documents.parquet'").fetchone()[0]
    assert n > duckdb.sql(f"SELECT count(*) FROM '{sf_dir}/documents.parquet'").fetchone()[0]


@pytest.mark.slow
def test_partitioned_layout_bench(run_example, sf_dir, tmp_path, capsys):
    dst = tmp_path / "part"
    run_example("partitioned_layout_bench", sf_dir, dst)
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["_meta"]["dst"] == str(dst)
    assert os.path.isdir(dst / "events") and os.path.isdir(dst / "lineitem")
