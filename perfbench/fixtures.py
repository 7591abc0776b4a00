"""Host record, Spark session and benchmark fixtures.

Every file the benchmark reads or writes lives under ``WORK`` (the
``.bench_build/perfbench`` directory of the checkout it runs from).  The
fixtures are built by the package's own ``harness`` builders; this module
only supplies their source table and points their cache inside ``WORK``.

The source table has the column layout of the TPC-H ``lineitem`` table the
harness builders read, one row per raster pixel in row-major order, so the
raster channels carry spatial structure: ``hab`` (``l_suppkey % 20``) is a
map of 256x256-pixel habitat patches and ``elev`` (``l_partkey % 1000``) a
smooth elevation field.  That structure is what makes a single-class mask
leave most storage tiles empty (the sparse-save case).  The table is drawn
from a fixed seed: a run's ``--seed`` varies the operations' parameters,
never the stored fixtures, so one prepared fixture set serves every seed.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import shutil
import sys
from dataclasses import asdict, dataclass

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURE_SEED = 20261017
PATCH = 256


@dataclass(frozen=True)
class Scale:
    """Fixture sizes.  ``rows`` is the raster height (width is the harness's
    2048-pixel bench grid); ``pages`` and ``docs`` size the stored pages
    table and the MinHash corpus."""

    name: str
    rows: int
    pages: int
    docs: int
    knn_queries: int


SCALES = {
    "bench": Scale("bench", rows=2048, pages=50_000, docs=6_000, knn_queries=512),
    "smoke": Scale("smoke", rows=512, pages=4_000, docs=1_000, knn_queries=64),
}


# -- host ---------------------------------------------------------------------

def mem_total_bytes() -> int:
    with open("/proc/meminfo", encoding="ascii") as fp:
        for line in fp:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A fifth of physical memory, clamped to [1 GiB, 4 GiB]: never above
    what the host has, and small enough to share the host."""
    return int(min(max(mem_total_bytes() // 5, 1 << 30), 4 << 30) // (1 << 20))


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fp:
        return [int(v) for v in fp.readline().split()[1:]]


class HostRecord:
    """nproc, memory, heap, versions, and load average plus CPU steal
    sampled at the start and end of the run, so host drift is visible
    next to the figures it may have moved."""

    def __init__(self, scale: Scale, cores: int):
        import pyarrow
        import pyspark

        self.info = {
            "nproc": os.cpu_count(),
            "cores_used": cores,
            "mem_total_mb": mem_total_bytes() >> 20,
            "driver_heap_mb": driver_heap_mb(),
            "scale": asdict(scale),
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": np.__version__,
        }
        self._cpu0 = _cpu_times()
        self.info["load_start"] = os.getloadavg()

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(delta) or 1
        # /proc/stat columns: user nice system idle iowait irq softirq steal
        self.info["steal_pct"] = round(100.0 * delta[7] / total, 3)
        self.info["busy_pct"] = round(100.0 * (total - delta[3] - delta[4]) / total, 3)
        self.info["load_end"] = os.getloadavg()
        return self.info


# -- peak RSS of the process tree ----------------------------------------------

def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants.  Every thread's ``children`` file
    is read: the JVM forks the Python daemon from an executor thread, so
    the main thread's file alone would miss the Python workers."""
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        try:
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children", encoding="ascii") as fp:
                    stack.extend(int(c) for c in fp.read().split())
        except OSError:
            continue
    return pids


def tree_rss_bytes(root: int) -> int:
    """Resident set of ``root``'s process tree (driver, JVM, Python
    daemon and workers), summed from ``/proc/<pid>/statm``."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fp:
                total += int(fp.read().split()[1]) * page
        except OSError:
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used by ``root``'s process tree: live
    processes plus the descendants they have already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fp:
                fields = fp.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of proc(5)
        total += sum(int(v) for v in fields[11:15])
    return total / tick


def tree_python_workers(root: int) -> int:
    """How many processes of ``root``'s tree are the PySpark daemon or
    workers forked from it."""
    n = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fp:
                n += b"pyspark.daemon" in fp.read()
        except OSError:
            continue
    return n


class RssSampler:
    """Samples the process tree's RSS on a daemon thread; ``peak`` (bytes) is
    the largest sample seen."""

    def __init__(self, interval_s: float = 0.25):
        import threading

        self._interval = interval_s
        self._stop = threading.Event()
        self.peak = tree_rss_bytes(os.getpid())
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak / (1 << 20)


# -- Spark session ----------------------------------------------------------------

def spark_builder(cores: int, event_log_dir: str | None = None):
    """The bench session config of ``bench.py`` sized for the host: the
    heap comes from ``driver_heap_mb`` with ``-Xms`` equal to ``-Xmx`` so G1
    never resizes it (peak RSS then repeats from run to run) but without
    pre-touching it, scratch space is under ``WORK``, and the event log is
    on only for a traced run."""
    from pyspark.sql import SparkSession

    local_dir = os.path.join(WORK, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Xms{driver_heap_mb()}m -Djava.io.tmpdir={tmp}"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(2 * cores, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "8388608")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", f"{driver_heap_mb()}m")
        .config("spark.driver.extraJavaOptions", java_opts)
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log_dir))
    return b


def prepare_env() -> None:
    """Process environment every Spark process inherits: the package import
    path for Python workers and a scratch dir inside ``WORK``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# -- fixtures ---------------------------------------------------------------------

def landscape(rows: int, width: int, seed: int = FIXTURE_SEED) -> dict[str, np.ndarray]:
    """The raster channels the source table encodes, as 2-D arrays."""
    rng = np.random.default_rng(seed)
    py, px = math.ceil(rows / PATCH), math.ceil(width / PATCH)
    patches = rng.integers(0, 20, size=(py, px))
    hab = np.repeat(np.repeat(patches, PATCH, 0), PATCH, 1)[:rows, :width]
    y, x = np.mgrid[0:rows, 0:width].astype(np.float64)
    field = (500 + 300 * np.sin(2 * np.pi * x / 700) * np.cos(2 * np.pi * y / 900)
             + 150 * np.sin(2 * np.pi * (x + y) / 330))
    elev = np.clip(field + rng.integers(-20, 21, size=(rows, width)), 0, 999)
    qty = rng.integers(1, 51, size=(rows, width))
    return {"qty": qty.astype(np.int64), "elev": elev.astype(np.int64),
            "hab": hab.astype(np.int64)}


def _write_source_table(path: str, rows: int, width: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ch = landscape(rows, width)
    n = rows * width
    rng = np.random.default_rng(FIXTURE_SEED + 1)
    i = np.arange(n, dtype=np.int64)
    qty = ch["qty"].ravel()
    table = pa.table({
        "l_orderkey": i // 4,
        "l_linenumber": (i % 4 + 1).astype(np.int32),
        "l_partkey": ch["elev"].ravel() + 1000 * rng.integers(0, 20, n),
        "l_suppkey": ch["hab"].ravel() + 20 * rng.integers(0, 50, n),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": qty * rng.integers(900, 2100, n) + 0.5,
    })
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


class Fixtures:
    """The prepared inputs of one scale: raster layers, mosaic strips and
    the two stored pages tables, built through ``harness`` and cached
    under ``WORK/fixtures/<scale>``."""

    def __init__(self, scale: Scale):
        from yirgacheffe_spark import harness

        self.scale = scale
        self.dir = os.path.join(WORK, "fixtures", scale.name)
        self.src_dir = os.path.join(self.dir, "src")
        self.width = harness.BENCH_W
        # The harness caches under /dev/shm; keep its cache inside WORK.
        harness._cache_dir = lambda _sf_dir: os.path.join(self.dir, "cache")  # noqa: SLF001
        self._harness = harness

    @property
    def ready_flag(self) -> str:
        return os.path.join(self.dir, "READY.json")

    def stamp(self) -> dict:
        """The scale plus a hash of the engine's sources: the fixtures are
        written by engine code (the harness builders, the raster writer,
        the pages synthesis), so a change to it rebuilds them."""
        h = hashlib.sha256()
        pkg = os.path.join(ROOT, "yirgacheffe_spark")
        for dirpath, dirs, files in os.walk(pkg):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, pkg).encode())
                    with open(path, "rb") as fp:
                        h.update(fp.read())
        return {**asdict(self.scale), "engine_sha256": h.hexdigest()}

    def ready(self) -> bool:
        if not os.path.exists(self.ready_flag):
            return False
        with open(self.ready_flag, encoding="utf-8") as fp:
            return json.load(fp) == self.stamp()

    def prepare(self, spark) -> None:
        """Rebuilds the fixtures from scratch through the harness builders."""
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.src_dir)
        _write_source_table(os.path.join(self.src_dir, "lineitem.parquet"),
                            self.scale.rows, self.width)
        self.rasters()
        self.mosaic_paths()
        self.pages_path(spark)
        self.docs_path(spark)
        with open(self.ready_flag, "w", encoding="utf-8") as fp:
            json.dump(self.stamp(), fp)

    def prewarm(self) -> None:
        """Reads every fixture file once so that the operations read from
        page cache, not from a disk whose cache the host may reclaim
        between runs (untimed)."""
        for dirpath, _dirs, files in os.walk(self.dir):
            for f in files:
                with open(os.path.join(dirpath, f), "rb") as fp:
                    while fp.read(1 << 24):
                        pass

    def rasters(self) -> dict:
        return self._harness.bench_rasters_multiband(self.src_dir, repeat=1)

    def mosaic_paths(self) -> list[str]:
        return self._harness.bench_mosaic_children(self.src_dir, repeat=1)

    def pages_path(self, spark) -> str:
        return self._harness.bench_pages(spark, self.src_dir, self.scale.pages, res=6)

    def docs_path(self, spark) -> str:
        return self._harness.bench_pages(spark, self.src_dir, self.scale.docs,
                                         res=6, seed=11)

    def arrays(self) -> dict[str, np.ndarray]:
        """The channels rebuilt from the source table with plain pyarrow:
        the raster oracles' input, independent of the engine."""
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.src_dir, "lineitem.parquet"),
                          columns=["l_quantity", "l_partkey", "l_suppkey"])
        shape = (self.scale.rows, self.width)
        return {
            "qty": t.column("l_quantity").to_numpy().astype(np.int64).reshape(shape),
            "elev": (t.column("l_partkey").to_numpy() % 1000).reshape(shape),
            "hab": (t.column("l_suppkey").to_numpy() % 20).reshape(shape),
        }
