"""Spark session lifecycle for the benchmark: box sizing, a session whose
every file lands inside one run directory, process shutdown and memory.
"""

from __future__ import annotations

import os
import subprocess
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
LOG4J_CONF = os.path.join(HERE, "log4j2.properties")


def box() -> dict:
    """CPUs this process may run on and the memory it may use."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    mem_mb = mem_kb // 1024
    try:  # a cgroup limit below the host's RAM is the real ceiling
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            mem_mb = min(mem_mb, int(raw) // (1 << 20))
    except (OSError, ValueError):
        pass
    return {"cpus": cpus, "mem_mb": mem_mb}


def sizing(b: dict) -> dict:
    """Driver heap and shuffle partitions from the box. A heap of a quarter
    of RAM, between 1 and 2 GiB, leaves the rest to the Python workers and
    to other tenants; two shuffle partitions per core let AQE coalesce
    without leaving a core idle on the last wave."""
    return {"master": f"local[{b['cpus']}]",
            "driver_mem_mb": max(1024, min(2048, b["mem_mb"] // 4)),
            "shuffle_partitions": 2 * b["cpus"]}


def confine(run_dir: str, repo_root: str) -> None:
    """Point every scratch location of this process, the JVM it will
    launch and the Python workers at ``run_dir``; put the package on the
    workers' import path. Must run before the first session starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p)
    # a classic local session of our own, never an inherited gateway or a
    # Spark Connect server
    for var in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET",
                "SPARK_REMOTE"):
        os.environ.pop(var, None)


def start(run_dir: str, sz: dict, event_log_dir: str | None = None):
    """A SparkSession configured from ``sz``. The first call launches the
    JVM; later calls, after the previous session's ``stop()``, reuse it."""
    from pyspark.sql import SparkSession

    # A fixed, pre-touched heap: G1 otherwise grows the heap by timing
    # heuristics, and peak RSS would follow them rather than the program.
    heap = f"{sz['driver_mem_mb']}m"
    b = (SparkSession.builder.master(sz["master"])
         .appName("perfbench")
         .config("spark.driver.memory", heap)
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{heap} -XX:+AlwaysPreTouch "
                 f"-Dlog4j2.configurationFile=file:{LOG4J_CONF} "
                 f"-Dperfbench.log={os.path.join(run_dir, 'spark.log')}")
         .config("spark.sql.shuffle.partitions",
                 str(sz["shuffle_partitions"]))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.warehouse.dir",
                 os.path.join(run_dir, "warehouse"))
         .config("spark.eventLog.enabled", str(bool(event_log_dir)).lower()))
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.dir", f"file:{event_log_dir}")
              .config("spark.eventLog.compress", "false"))
    return b.getOrCreate()


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f
                    if line.startswith("VmHWM:"))


def peak_rss_mb() -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    kb = _vm_hwm_kb("self")
    pid = jvm_pid()
    if pid is not None:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def shutdown_jvm(timeout: float = 60.0) -> None:
    """End the gateway JVM and wait for it: it exits when its stdin
    closes. The Python workers it forked die with it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
