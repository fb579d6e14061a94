"""Environment pinning and stamping: cores, versions, contention, memory."""

from __future__ import annotations

import os
import platform
import subprocess
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def procs_running(samples: int = 5, interval: float = 0.1) -> int | None:
    """Peak count of runnable threads machine-wide, minus this one, from
    ``/proc/stat`` over a short window; None without procfs."""
    peak = None
    for i in range(samples):
        try:
            with open("/proc/stat") as f:
                for line in f:
                    if line.startswith("procs_running"):
                        v = max(0, int(line.split()[1]) - 1)
                        peak = v if peak is None else max(peak, v)
        except OSError:
            return None
        if i + 1 < samples:
            time.sleep(interval)
    return peak


def burn_rate(n: int = 300_000, tries: int = 5) -> float:
    """Best single-thread busy-loop rate (iterations/s) of a few short
    tries: the contention probe. The best try is the least disturbed one."""
    best = 0.0
    for _ in range(tries):
        t0 = time.perf_counter()
        x = 0
        for i in range(n):
            x += i * i
        best = max(best, n / (time.perf_counter() - t0))
    return best


def contention_probe() -> dict:
    steal, total = cpu_steal()
    return {"burn_rate": burn_rate(), "procs_running": procs_running(),
            "steal_jiffies": steal, "total_jiffies": total}


def steal_share(before: dict, after: dict) -> float:
    """Share of CPU time the hypervisor stole between the two probes."""
    total = after["total_jiffies"] - before["total_jiffies"]
    steal = after["steal_jiffies"] - before["steal_jiffies"]
    return steal / total if total > 0 else 0.0


def contended(before: dict, after: dict, cores: int) -> bool:
    """A run is flagged when the single-thread rate drifted by more than a
    fifth between the probes, more threads than cores were runnable before
    the run started, or the hypervisor stole more than 5% of CPU time."""
    lo, hi = sorted((before["burn_rate"], after["burn_rate"]))
    busy = before["procs_running"]
    return (lo / hi < 0.8 or (busy is not None and busy > cores)
            or steal_share(before, after) > 0.05)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(k) for k in f.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_parts() -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of this process and every descendant
    still alive (the Spark JVM and anything it started), keyed ``comm:pid``."""
    out = {}
    for p in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[f"{comm}:{p}"] = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return out


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the JVM's heap memory pools' peak usage since start, in MB."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
        if p.getType().name() == "HEAP"
    ) / 2**20


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from ``/proc/stat``."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def _git_commit(root: str) -> str:
    try:
        return subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def stamp(root: str, spark) -> dict:
    """nproc, Python/pyspark/Java versions and the commit under test."""
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        # relative to the checkout, where the benchmark keeps it
        "spark_local_dir": os.path.relpath(
            spark.sparkContext.getConf().get("spark.local.dir", ""), root),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "git_commit": _git_commit(root),
    }


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until no process in ``pids`` is alive; kill what outlives
    ``timeout``."""
    deadline = time.monotonic() + timeout
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait until the JVM and
    every process it started have exited."""
    from pyspark import SparkContext

    started = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    _wait_gone(started, timeout=10)
