"""Host fit and process hygiene for one benchmark run.

Everything a run writes lives under ``<checkout>/.perfbench``; the Spark
session is sized to the host; the run's child processes (the driver JVM and
the Python workers it forks) are sampled for memory while timing and are
waited for at exit.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import threading
import time

# Cores and heap are capped so that a run on a large host executes the same
# plans as one on a small one (shuffle partitions and bucket counts are fixed
# per workload in workloads.py). Two task slots on a 4-CPU host leave the JIT,
# GC and the driver's planning thread room; in a five-seed comparison that
# narrowed the run-to-run spread of events/s from 0.24 to 0.13.
MAX_CORES = 2
MAX_HEAP_MB = 2048


def host_cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def heap_mb() -> int:
    """Driver heap: at most MAX_HEAP_MB and at most a quarter of free memory."""
    return max(512, min(MAX_HEAP_MB, mem_available_mb() // 4))


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants() -> list[int]:
    """Every live process below this one."""
    root = os.getpid()
    parents = _ppid_map()
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: RSS with each shared page split between the
    processes mapping it, so a JVM child between fork and exec, or a Python
    worker forked from the daemon, does not count shared memory twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed PSS of this process's descendants (driver JVM + Python
    workers), sampled every ``interval`` seconds between start() and stop()."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in descendants()))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def _spark_pids() -> set[int]:
    pids = set()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                if b"SparkSubmit" in f.read():
                    pids.add(int(d))
        except OSError:
            continue
    return pids


def host_snapshot() -> dict:
    """load1, cumulative cpu/steal jiffies and the count of Spark JVMs that
    are not this run's own (the contention signals bench.py records)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    own = set(descendants())
    return {
        "load1": os.getloadavg()[0],
        "cpu_total": sum(vals),
        "cpu_steal": vals[7] if len(vals) > 7 else 0,
        "foreign_spark": len(_spark_pids() - own),
    }


def host_diagnostics(before: dict, after: dict) -> dict:
    dt = max(after["cpu_total"] - before["cpu_total"], 1)
    return {
        "load1": round(before["load1"], 2),
        "steal_pct": round(100.0 * (after["cpu_steal"] - before["cpu_steal"]) / dt, 2),
        "foreign_spark": max(before["foreign_spark"], after["foreign_spark"]),
    }


def prepare_dirs(root: str) -> tuple[str, str]:
    """(cache dir, private run dir) under ``<root>/.perfbench``. Temp files of
    Python, the JVM and Spark are pointed into the run dir."""
    base = os.path.join(root, ".perfbench")
    cache = os.path.join(base, "cache")
    run = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in (cache, os.path.join(run, "tmp"), os.path.join(run, "spark-local")):
        os.makedirs(d, exist_ok=True)
    tmp = os.path.join(run, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run, "spark-local")
    # the short-lived JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return cache, run


def build_session(run_dir: str, *, shuffle_partitions: int, event_log: str | None = None):
    from pyspark.sql import SparkSession

    heap = heap_mb()
    b = (
        SparkSession.builder.master(f"local[{host_cores()}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}m")
        .config(
            "spark.driver.extraJavaOptions",
            # a pre-touched fixed heap keeps peak RSS from depending on when
            # the old generation happened to grow during the timed window
            f"-XX:+UseParallelGC -Xms{heap}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        )
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM and wait until every child process of
    this run has exited (killing stragglers after ``timeout``)."""
    from pyspark import SparkContext

    kids = descendants()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    alive = [p for p in kids if _running(p)]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_running(p) for p in alive):
        time.sleep(0.05)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False
