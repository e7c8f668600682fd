"""Session lifetime, memory and host context for one benchmark run."""

from __future__ import annotations

import os
import subprocess
import time

from pyspark import SparkContext

from dask_histogram_spark.session import get_spark


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work: str) -> dict:
    """Keep every file Spark writes inside the run's work directory."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData",
    }


def start_session(work: str):
    """A session in a freshly launched JVM (the cost a user's job pays)."""
    spark = get_spark("perfbench", cpus=cpus(), extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """High-water resident memory of this driver process plus its JVM."""
    jvm = SparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited,
    so the next session starts from a fresh JVM."""
    from dask_histogram_spark import queries
    from dask_histogram_spark.queries import clear_bench_memos

    gateway = SparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # library memos keyed on the (now dead) session
    queries._TABLE_CACHE.clear()
    clear_bench_memos()


def timed_setups(n: int, work: str, register):
    """Start ``n`` fresh sessions, each timed from JVM launch to inputs
    registered (``register(spark)``); all but the last are stopped.
    Returns (live session, registered state, list of setup seconds)."""
    times = []
    for i in range(n):
        t0 = time.perf_counter()
        spark = start_session(work)
        state = register(spark)
        times.append(time.perf_counter() - t0)
        if i < n - 1:
            stop_session(spark)
    return spark, state, times


def _psi_cpu_avg10() -> float | None:
    try:
        with open("/proc/pressure/cpu") as f:
            return float(f.readline().split("avg10=")[1].split()[0])
    except (OSError, IndexError, ValueError):
        return None


def _cpu_steal_s() -> float | None:
    """CPU time taken by other guests of the host since boot, summed
    over cpus (the ``steal`` column of /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            ticks = int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None
    return ticks / os.sysconf("SC_CLK_TCK")


def host_context() -> dict:
    return {"psi_cpu_avg10": _psi_cpu_avg10(),
            "loadavg_1m": os.getloadavg()[0],
            "cpu_steal_s": _cpu_steal_s()}


def build_context(root: str) -> dict:
    import pyspark

    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True,
                             timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        sha = None
    return {"nproc": os.cpu_count(), "cpus_used": cpus(),
            "pyspark": pyspark.__version__, "git_sha": sha}
