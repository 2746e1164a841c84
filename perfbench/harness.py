"""Hermetic Spark launch, run context, storage walks and latency samples.

Everything a run writes (tables, warehouse, Spark local dirs, JVM and
Python temp files, Derby files) lives under one work directory inside the
current directory, removed when the run ends (a traced run leaves its
spans file in the parent, ``.perfbench_work/``). The repository root is put
on ``PYTHONPATH`` before the JVM starts, so Python workers forked by Spark
(pandas UDFs on the Arrow path) import the engine too.
"""

from __future__ import annotations

import os
import resource
import shlex
import shutil
import socket
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """The driver heap cap: a quarter of host memory, at most 4 GiB. The
    heap starts at the JVM's own initial size and grows as the collector
    sees fit; the memory figure reads the live heap after a full
    collection, so it follows the program, not this cap."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return min(4096, total_kb // 4 // 1024)


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Work:
    """The run's work tree: ``<cwd>/.perfbench_work/<name>-<pid>``."""

    def __init__(self, name: str):
        self.root = os.path.join(os.getcwd(), ".perfbench_work", f"{name}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        for sub in ("tmp", "local", "warehouse"):
            os.makedirs(self.path(sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def launch(work: Work, cpus: int, ui: bool):
    """Start the engine's own session (``session.get_spark``) as
    ``local[cpus]``, with every file it writes in ``work``.

    The engine's choices (shuffle width, broadcast threshold, runtime
    confs) come from ``get_spark`` unchanged. The launch settings go in
    through what ``get_spark`` reads from the environment and through
    ``PYSPARK_SUBMIT_ARGS``; only the Spark UI, which ``get_spark`` turns
    off and the traced run needs, is set on the builder.
    """
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tempfile.tempdir = work.path("tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_memory_mb()}m"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = work.path("warehouse")
    # -XX:-UsePerfData: no hsperfdata files in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = (f"-XX:-UsePerfData -Djava.io.tmpdir={work.path('tmp')} "
                 f"-Dderby.system.home={work.root}")
    confs = {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": work.path("local"),
        "spark.ui.showConsoleProgress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"

    from pyspark.sql import SparkSession

    from wrtd_etl_spark.session import get_spark

    builder_cls = SparkSession.Builder
    create = builder_cls.getOrCreate
    if ui:
        def with_ui(self):
            for key, value in {
                "spark.ui.enabled": "true",
                "spark.ui.port": str(free_port()),
                "spark.driver.host": "127.0.0.1",
                "spark.driver.bindAddress": "127.0.0.1",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "10",
            }.items():
                self.config(key, value)
            return create(self)

        builder_cls.getOrCreate = with_ui
    try:
        spark = get_spark("perfbench")
    finally:
        builder_cls.getOrCreate = create
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_proc(spark):
    return spark.sparkContext._gateway.proc


def _memory_bean(spark):
    jvm = spark.sparkContext._jvm
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean()


def live_heap_mb(spark) -> float:
    """JVM heap in use right after a full collection, in MB: what the
    driver keeps live at this point, whatever size the collector chose
    for the heap."""
    mx = _memory_bean(spark)
    mx.gc()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def driver_mem_mb(spark, live_heap: float) -> dict[str, float]:
    """The parts of the memory the driver holds, in MB: the given JVM live
    heap, the JVM's non-heap memory in use (metaspace, code cache) and
    this Python process's peak RSS."""
    return {
        "jvm_live_heap_mb": live_heap,
        "jvm_non_heap_mb": _memory_bean(spark).getNonHeapMemoryUsage().getUsed() / 2**20,
        "python_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    proc = jvm_proc(spark)
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def walk(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime) of every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed mid-walk by a swap
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) created or rewritten between two walks."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return sum(after[p][0] for p in new), len(new)


def canary_s() -> float:
    """Fixed pure-Python work; a slow reading flags a contended host."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def context(cpus: int) -> dict:
    return {
        "nproc": host_cpus(),
        "local_n": cpus,
        "loadavg_start": os.getloadavg()[0],
        "canary_s": canary_s(),
    }


@dataclass
class Samples:
    """Latencies of the timed region, per kind, plus failures."""

    ops: list[float] = field(default_factory=list)
    reads: list[float] = field(default_factory=list)
    by_kind: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def op(self, kind: str, seconds: float) -> None:
        self.ops.append(seconds)
        self.by_kind.setdefault(kind, []).append(seconds)
        self.attempted += 1

    def read(self, kind: str, seconds: float) -> None:
        self.reads.append(seconds)
        self.by_kind.setdefault(kind, []).append(seconds)
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(what)
