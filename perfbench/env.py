"""Process environment for a benchmark run: pins the knobs the engine
reads from the environment, records the box, and owns the Spark JVM's
life cycle (launch through ``get_spark``, RSS sampling, shutdown)."""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def driver_mem_mb(total_mb: int) -> int:
    """An eighth of the box, between 1 and 2 GiB: the session factory's
    48g default would let the heap outgrow a small box."""
    return max(1024, min(2048, total_mb // 8))


def pin_environment(work: Path) -> dict:
    """Set every environment knob the engine reads before the JVM starts
    and return what was pinned."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    cpus = nproc()
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{driver_mem_mb(mem_total_mb())}m",
        "SPARK_LOCAL_DIRS": str(local),
        # the Python data-source workers import the package by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": str(tmp),
        # the short-lived launcher JVM that spark-submit starts first would
        # otherwise write its perf-counter file under the system temp dir
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(pinned)
    return pinned


def base_conf(work: Path) -> dict[str, str]:
    """Spark settings that keep every file the run writes inside ``work``
    and fix the heap at its maximum, so peak RSS does not hinge on when
    the collector chose to grow it."""
    heap = os.environ["SPARK_DRIVER_MEM"]
    return {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{heap}"
        ),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


def describe_box(work: Path, spark) -> dict:
    """nproc, memory, versions (Java from the running JVM) and a
    write/read probe of the disk the run's scratch lives on."""
    import pyspark

    system = spark.sparkContext._jvm.java.lang.System
    probe = work / "disk_probe.bin"
    block = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(probe, "wb") as fh:
        for _ in range(64):
            fh.write(block)
        fh.flush()
        os.fsync(fh.fileno())
    t1 = time.perf_counter()
    with open(probe, "rb") as fh:
        while fh.read(1 << 20):
            pass
    t2 = time.perf_counter()
    probe.unlink()
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "driver_mem": os.environ.get("SPARK_DRIVER_MEM"),
        "spark": pyspark.__version__,
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "python": platform.python_version(),
        "disk_write_mb_s": round(64 / (t1 - t0), 1),
        "disk_read_mb_s": round(64 / (t2 - t1), 1),
        "disk_free_gb": round(shutil.disk_usage(work).free / 2**30, 1),
    }


def cpu_ticks() -> list[int]:
    """The box's cumulative CPU ticks (user, nice, system, idle, iowait,
    irq, softirq, steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the box's CPU time the hypervisor took between two reads."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie awaiting its reaper has ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (children first)."""
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(x) for x in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        frontier.extend(kids)
    return out


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


class RssSampler:
    """Samples the RSS of the JVM and of its Python workers every
    ``period`` seconds on a daemon thread and keeps the peaks."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_total = self.peak_jvm = self.peak_workers = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        pid = jvm_pid()
        if pid is None:
            return
        jvm = _rss_mb(pid)
        workers = sum(_rss_mb(p) for p in descendants(pid))
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)
        self.peak_total = max(self.peak_total, jvm + workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()


def shutdown_jvm(timeout: float = 30.0) -> None:
    """Stop the active session, then end the gateway JVM and every
    process it started, and wait for all of them."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is None:
        return
    kids = descendants(proc.pid) if proc is not None else []
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    for pid in kids:
        while alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None
