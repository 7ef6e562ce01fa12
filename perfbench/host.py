"""Host side of the benchmark: the work directory, the Spark session sized
from the host, and process-tree measurements read from ``/proc``.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``:
cached inputs, Spark scratch space, event logs, ingest output and spans.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def work_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A sixth of the host's memory, in whole GiB, between 1g and 8g.  In
    local mode the driver JVM runs every task; the Python workers (one per
    core) and the page cache need the rest.  A heap this size fills during
    warm-up, so peak RSS does not wander with the collector's sizing."""
    gib = mem_total_bytes() // 6 // (1 << 30)
    return f"{min(max(gib, 1), 8)}g"


def isolate_temp() -> None:
    """Point every temp-file user (Python, the JVM, Python workers, which
    inherit the environment) at the work directory."""
    tmp = work_dir("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work_dir("spark-local")
    import tempfile

    tempfile.tempdir = tmp


def start_session(cores: int, event_log: str | None = None):
    """A fresh SparkSession at ``local[cores]``; the session factory's own
    defaults stay, host-sized settings arrive through ``extra``."""
    from rasteret_spark.session import get_spark

    extra = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": work_dir("spark-local"),
        "spark.sql.warehouse.dir": work_dir("warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={work_dir('tmp')}"
            f" -Dderby.system.home={work_dir('tmp')}"
        ),
    }
    # the builder keeps options across sessions: say "off" explicitly
    extra["spark.eventLog.enabled"] = "false"
    if event_log:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext and drop the builder's cached session, so the
    next ``start_session`` builds a new context in the same JVM."""
    from pyspark.sql import SparkSession

    spark.stop()
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


# --- /proc -------------------------------------------------------------------
def _tree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for pid_s in os.listdir("/proc"):
        if not pid_s.isdigit():
            continue
        try:
            with open(f"/proc/{pid_s}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(pid_s))
    out, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def tree_rss_bytes() -> int:
    total = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's summed RSS (JVM + Python
    workers); ``peak`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def child_pids() -> list[int]:
    return [p for p in _tree_pids() if p != os.getpid()]


def wait_children_gone(timeout_s: float = 30.0) -> list[int]:
    """After the session stops, wait for the JVM and Python workers to
    exit; returns the pids still alive at the deadline."""
    deadline = time.time() + timeout_s
    left = child_pids()
    while left and time.time() < deadline:
        time.sleep(0.2)
        left = child_pids()
    return left


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def dir_bytes(path: str) -> tuple[int, int]:
    """(parquet file count, total bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def shutdown_jvm() -> None:
    """Close the Py4J gateway and wait for the JVM it launched to exit
    (the JVM ends on EOF of its stdin)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
