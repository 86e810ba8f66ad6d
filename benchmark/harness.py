"""Session, work directory and resource measurement for the benchmark.

Everything a run writes lives under ``.bench_work/`` in the directory the
benchmark is started from: inputs, outputs, Spark's local and temp
directories, the JVM's temp directory and the traced run's event log. The
directory is removed when the run ends.

CPU time is read from ``/proc`` over the whole process tree of the run:
this Python process, the Spark JVM it launches and the Python workers the
JVM forks.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

#: the checkout root: the engine package is imported from here, by this
#: process and by the Python workers Spark forks
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


class WorkDir:
    """A private work directory for one run, and the environment that
    keeps Spark, the JVM and Python temp files inside it."""

    def __init__(self, name: str):
        self.root = os.path.join(os.getcwd(), ".bench_work", f"{name}-{os.getpid()}")
        self.tmp = self.path("tmp")
        os.makedirs(self.tmp, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None
        # SPARK_LOCAL_DIRS would override spark.local.dir if inherited
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        # both the launcher JVM and the driver JVM: temp files here, and no
        # hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_spark(work: WorkDir, cpus: int, event_log_dir: str | None = None):
    """One local[cpus] session sized for a small host. The first call
    launches the JVM; later calls in the same process reuse it."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("spark-quad-fragmenter-benchmark")
        .config("spark.driver.memory", "3g")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.local.dir", work.path("spark-local"))
        .config("spark.sql.warehouse.dir", work.path("warehouse"))
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, shutdown_jvm: bool) -> None:
    """Stop the session; with ``shutdown_jvm`` also end the JVM and wait
    until it has exited (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    if not shutdown_jvm:
        return
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int | None = None) -> float:
    """user+sys seconds of the live process tree, including reaped
    children (``cutime``/``cstime``), so workers that exit mid-job are
    still counted."""
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


class Measure:
    """Context manager: wall seconds and process-tree CPU seconds of the
    enclosed block."""

    def __enter__(self):
        self.cpu0 = tree_cpu_seconds()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_seconds() - self.cpu0
        return False


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))
