"""Shared pieces of the benchmark: paths, the Spark session it starts,
percentiles, and the run-context stamp."""

from __future__ import annotations

import math
import os
import statistics
import time

PERFBENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERFBENCH_DIR)
PACKAGE_DIR = os.path.join(ROOT, "australian_company_etl_spark")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
DATA_DIR = os.path.join(BUILD_DIR, "data")
EXPECTED_CACHE = os.path.join(BUILD_DIR, "expected.json")
RUNS_DIR = os.path.join(BUILD_DIR, "runs")


def configure_env(scratch: str) -> None:
    """Environment for the Spark session this process starts: progress
    bars off so run logs carry data, every temporary file inside the
    checkout (`-XX:-UsePerfData`: the JVM writes its perf-data file to
    /tmp whatever its temp dir), and the repo on the Python workers' path.
    Must run before the JVM starts (the first `get_spark`)."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false"
        f" --driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
        " pyspark-shell"
    )


def start_spark():
    from australian_company_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit (its Python
    workers are its children and exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that ignores its closed stdin
            proc.kill()
            proc.wait(timeout=10)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_live_heap_mb(spark) -> float:
    """Heap in use after a full collection: what the driver JVM retains
    (caches, broadcast and index state), without the garbage a peak
    includes."""
    jvm = spark.sparkContext._jvm
    # the first collection lets Spark's ContextCleaner see unreachable
    # broadcasts and shuffles; the second frees what it released
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float, float]]:
    """pid -> (parent pid, own CPU s, CPU s of reaped children)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        ppid = int(fields[1])
        own = (int(fields[11]) + int(fields[12])) * _TICK_S
        reaped = (int(fields[13]) + int(fields[14])) * _TICK_S
        out[int(entry)] = (ppid, own, reaped)
    return out


def system_cpu_s(exclude: tuple[int, ...] = ()) -> float:
    """CPU seconds used so far by this process and its descendants: the
    Spark driver JVM, its Python workers and the server threads here.
    Subtrees rooted at ``exclude`` (the load generator) are left out, and
    so are the children this process itself has reaped."""
    me = os.getpid()
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0.0, [me]
    while stack:
        pid = stack.pop()
        if pid in exclude or pid not in table:
            continue
        _, own, reaped = table[pid]
        total += own + (reaped if pid != me else 0.0)
        stack += children.get(pid, [])
    return total


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q / 100 * len(s)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def calibration_s(spark) -> float:
    """Wall time of a fixed data-free Spark job: host context for the run
    record (not a metric), so host drift can be told from a code change."""
    t = time.perf_counter()
    spark.range(0, 2_000_000, numPartitions=4).selectExpr("sum(hash(id) % 7) AS s").collect()
    return time.perf_counter() - t


def cpu_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def context_stamp(spark, ticks0: tuple[int, int]) -> dict:
    """Host context for the run record; ``ticks0`` is `cpu_ticks()` at
    process start, so `steal` is the share of the machine's CPU time the
    hypervisor gave to other guests during the run."""
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    return {
        "calib_s": round(calibration_s(spark), 4),
        "load1": round(os.getloadavg()[0], 2),
        "steal": round(steal / max(1, total), 4),
        "cores": spark.sparkContext.defaultParallelism,
    }
