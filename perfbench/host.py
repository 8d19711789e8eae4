"""Host-sized Spark session for the benchmark, and its teardown.

The program's defaults (``spark.driver.memory=90g``, ``local[32]``) are
sized for a large host. The benchmark passes ``local[<usable cores>]``,
``spark.driver.memory`` of a quarter of ``MemTotal`` (1-2 GiB), and Spark local
and event-log directories inside the benchmark's work directory.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import procstat

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_age_s(pid: int) -> float:
    """Seconds since process ``pid`` started (10 ms resolution)."""
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    start = int(raw[raw.rfind(")") + 2:].split()[19]) / procstat.TICK
    with open("/proc/uptime") as fh:
        up = float(fh.read().split()[0])
    return max(0.0, up - start)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(2048, total_mb // 4))
    return 2048


def start_session(work: str, event_dir: str | None = None):
    """The program's session factory with host-sized settings."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # Python workers import pikes_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    n = cores()
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {"spark.driver.memory": f"{heap_mb()}m",
            "spark.local.dir": local,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false"})
    from pikes_spark.session import get_spark
    return get_spark(app="perfbench", master=f"local[{n}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and the JVM, and wait until the JVM has ended. The
    processes it leaves (the Python daemon and workers) are stopped by
    ``reaper.py``."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        # also when stop() fails: a terminated run breaks the gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)


def warm_ran(spark) -> bool:
    return spark.conf.get("spark.pikes.warmed", None) == "1"


# Loop count of the core probe's CPU-bound task (about 0.25 s on one core).
PROBE_LOOPS = 3_000_000


def host_probe(n: int) -> tuple:
    """Context only, not metrics: (effective cores, seconds of one task).
    One CPU-bound task alone, then n at once, in already started workers;
    effective cores = n * (time alone) / (time of the n). The time alone
    shows how fast one core is now, which the ratio does not."""
    import multiprocessing as mp

    with mp.get_context("spawn").Pool(n) as pool:
        # the workers start (a fresh interpreter each) before the clock does
        pool.map(_burn, [PROBE_LOOPS // 100] * (4 * n), chunksize=1)
        t0 = time.perf_counter()
        pool.apply(_burn, (PROBE_LOOPS,))
        one = time.perf_counter() - t0
        t0 = time.perf_counter()
        pool.map(_burn, [PROBE_LOOPS] * n, chunksize=1)
        par = time.perf_counter() - t0
    return round(n * one / par, 2), round(one, 3)


def _burn(loops: int) -> int:
    s = 0
    for i in range(loops):
        s += i * i
    return s

