"""Shared run context for the workloads: pinned Spark sessions,
process-tree memory sampling, timing statistics and cleanup."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import tempfile
import threading
import time
from dataclasses import dataclass, field


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count); (max, 100, n) below 11 samples."""
    n = len(xs)
    s = sorted(xs)
    if n < 11:
        return (s[-1] if s else 0.0), 100.0, n
    k = n - 11  # index with exactly ten samples above it
    return s[k], round(100.0 * (k + 1) / n, 1), n


def round_ms(parts_ms: dict[str, list[float]]) -> float:
    """The time of one round of a fixed mix, as the sum over its
    operations of each operation's median: one slow sample of one
    operation does not move it, a slower operation of any kind does."""
    return sum(median(v) for v in parts_ms.values())


class PeakRSS(threading.Thread):
    """Samples the summed resident set of this process and all of its
    descendants (driver JVM, Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_rss_kb() -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = set(), [os.getpid()]
        while frontier:
            p = frontier.pop()
            tree.add(p)
            frontier.extend(c for c, pp in parent.items() if pp == p and c not in tree)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
            except (OSError, IndexError, ValueError):
                continue
        return total

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


@dataclass
class Result:
    """What a workload hands back to ``run.py``."""

    setups_s: list[float]
    rounds_ms: list[float]  # untraced rounds of the workload's fixed mix
    parts_ms: dict[str, list[float]]  # per operation of the mix, its times
    attempted: int
    failed: int
    detail: dict[str, tuple[float, str]]  # the workload's own metrics, printed
    layers: dict[str, float] = field(default_factory=dict)  # traced runs
    tracer: object = None


class Ctx:
    """One benchmark run: inputs, session lifecycle and the output dir."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.ncpu = len(os.sched_getaffinity(0))
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.out = os.path.join(root, ".perfbench_out")
        self.spark = None
        self.session_start_s = None  # first (cold JVM) get_spark
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.makedirs(self.out, exist_ok=True)
        # Everything Spark, Python and DuckDB spill or stage stays inside
        # the checkout; get_spark reads SPARK_GRAFT_CPUS at import.
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.ncpu)
        os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
        tempfile.tempdir = None  # re-read TMPDIR

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self, on_restart=None):
        """(Re)start the SparkSession at ``local[ncpu]``. The first call
        launches the JVM; later calls stop the context and start a fresh
        one in the same JVM, after ``on_restart`` drops state that pointed
        at the old session."""
        from v3_polars_spark.session import get_spark, quiet_expected_jvm_warnings

        if self.spark is not None:
            self.spark.stop()
            if on_restart is not None:
                on_restart()
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.ncpu}]",
            extra_conf={
                "spark.sql.warehouse.dir": self.path("warehouse"),
                # a heap committed and touched up front keeps the JVM's
                # resident size independent of when G1 decides to grow it
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.path('tmp')} "
                    f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        if self.session_start_s is None:
            self.session_start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        quiet_expected_jvm_warnings(spark)
        self.spark = spark
        return spark

    def cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() for i in infos))

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it, remove the inputs."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
