"""Spark session for the benchmark: sized to the machine, confined to the
run's work directory, and shut down with every process it started."""

from __future__ import annotations

import os
import subprocess
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession


def cpu_count() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """An eighth of the machine, between 1 and 2 GiB: the driver holds only
    sketch blobs and lineage rows, while the Python workers need the rest."""
    return max(1024, min(2048, mem_total_mb() // 8))


def start_session(repo_root: str, work_dir: str) -> SparkSession:
    """local[nproc] session whose scratch files all live under `work_dir`.

    The repository root goes on PYTHONPATH before the JVM starts, so the
    Python workers it forks import the package from any working directory.
    """
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # SPARK_LOCAL_DIRS, when set, would override spark.local.dir
    local_dir = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    n, heap = cpu_count(), driver_heap_mb()
    spark = (SparkSession.builder
             .master(f"local[{n}]")
             .appName("perfbench")
             .config("spark.driver.memory", f"{heap}m")
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.default.parallelism", str(n))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", local_dir)
             .config("spark.sql.warehouse.dir",
                     os.path.join(work_dir, "spark-warehouse"))
             .config("spark.driver.extraJavaOptions",
                     # a fixed-size heap: the JVM's resident memory then
                     # depends on the work, not on when G1 chose to grow.
                     # JIT thresholds at a tenth of the default: the
                     # planner and scheduler code that every small job
                     # runs reaches compiled speed within set-up, instead
                     # of speeding up during the measured loop
                     f"-Xms{heap}m -XX:CompileThresholdScaling=0.1 "
                     f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Stop the context, then close the JVM's stdin pipe (its exit signal)
    and wait for the JVM, which takes its Python workers with it."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the JVM kills its worker daemon on exit; give the daemon's children
    # the moment they need to see their parent go
    time.sleep(0.2)
