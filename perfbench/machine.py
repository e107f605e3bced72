"""Machine-sized Spark session, memory peaks and the run record."""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A quarter of physical memory, between 1 GiB and 8 GiB: local mode
    runs every executor thread inside the driver JVM, and the Python
    workers plus the OS page cache need the rest."""
    return max(1024, min(8192, mem_total_mb() // 4))


def session_conf(work_dir: str) -> tuple[str, dict[str, str]]:
    """(master, conf) for this machine.  All scratch — block manager
    spill and shuffle files, JVM temp files, the SQL warehouse — lives
    under ``work_dir``."""
    n = cores()
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    for d in (local_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    # the JVM reads SPARK_LOCAL_DIRS before spark.local.dir; every JVM
    # (the spark-submit launcher too) keeps its temp files here and
    # writes no hsperfdata under /tmp
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp_dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}"
    return f"local[{n}]", {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.sql.shuffle.partitions": str(max(2 * n, 8)),
        "spark.local.dir": local_dir,
        # a fixed, pre-touched heap: the JVM's resident peak is then the
        # whole heap plus what varies with the work (off-heap buffers,
        # metaspace, code cache, threads), so ``PeakRss`` can subtract
        # the heap instead of measuring how far GC let eden spread
        "spark.driver.extraJavaOptions": (
            f"-Xms{driver_heap_mb()}m -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced operation reads its stages back from the status store
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait until the JVM (and
    the Python workers under it) have exited; the next ``get_spark`` then
    launches a fresh JVM."""
    from pyspark import SparkContext

    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the gateway JVM exits once its stdin closes
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


# ------------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(name))
    return tree


def _tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak memory of the Spark JVM and the Python processes under it.

    ``reset()`` writes 5 to the JVM's ``clear_refs`` (VmHWM := current
    RSS) and resets the peaks of the JVM's heap memory pools.  The heap
    is fixed and pre-touched, so the JVM's VmHWM minus the committed heap
    is its exact off-heap resident peak (direct buffers, metaspace, code
    cache, thread stacks, native allocations).  The Python daemon and its
    forked workers come and go and share pages, so a sampler thread adds
    up their proportional set sizes (PSS: a shared page counts once in
    total) every ``interval`` seconds and keeps the largest sum."""

    def __init__(self, spark, interval: float = 0.2):
        self.jvm = spark.sparkContext._gateway.proc.pid
        mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.heap_pools = {
            p.getName(): p for p in mgmt.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"
        }
        self.heap_committed_mb = mgmt.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20
        self.interval = interval
        self._workers_kb = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        # only the Python processes: a child the JVM is spawning shares
        # the JVM's address space until it execs
        kb = sum(_pss_kb(pid) for pid in _tree(self.jvm)[1:] if _is_python(pid))
        with self._lock:
            self._workers_kb = max(self._workers_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def reset(self) -> None:
        for pool in self.heap_pools.values():
            pool.resetPeakUsage()
        with open(f"/proc/{self.jvm}/clear_refs", "w") as f:
            f.write("5")
        with self._lock:
            self._workers_kb = 0
        self._sample()

    def peak_mb(self) -> dict[str, float]:
        """Peaks since ``reset()`` in MiB: the JVM's VmHWM and off-heap
        part of it, each heap pool's peak use, and the largest
        Python-worker PSS sum."""
        self._sample()
        hwm = _status_kb(self.jvm, "VmHWM:") / 1024.0
        with self._lock:
            workers = self._workers_kb / 1024.0
        return {
            "jvm_hwm": hwm,
            "jvm_offheap": hwm - self.heap_committed_mb,
            "heap_pools": {
                name: pool.getPeakUsage().getUsed() / 2**20 for name, pool in self.heap_pools.items()
            },
            "workers": workers,
        }

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------------ record


def git_sha(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def canary_s(spark, work_dir: str, repeats: int = 3) -> float:
    """bench.py's never-edited latency canary (min of ``repeats`` after
    one warm run), over a fixed 600k-row lineitem-shaped table generated
    once into ``work_dir`` — machine drift context, not a metric."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bench import canary

    sf_dir = os.path.join(work_dir, "canary")
    path = os.path.join(sf_dir, "lineitem.parquet")
    if not os.path.exists(path):
        os.makedirs(sf_dir, exist_ok=True)
        rng = np.random.default_rng(0)
        n = 600_000
        table = pa.table({
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": rng.uniform(900, 105_000, n).round(2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        })
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    walls = []
    for _ in range(repeats + 1):
        t0 = time.perf_counter()
        canary(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return min(walls[1:])


def record(spark, root: str) -> dict:
    import pyspark

    return {
        "nproc": cores(),
        "mem_total_mb": mem_total_mb(),
        "driver_heap_mb": driver_heap_mb(),
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": git_sha(root),
        "spark_local_dir": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], root),
    }
