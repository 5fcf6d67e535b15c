"""Spark session, host guard and JVM lifetime for the benchmark.

The session mirrors tests/conftest.py (UTC, UI off, AQE off, short
periodic GC, plan strings capped at 4096 characters, shuffle partitions =
cores).  Everything the run writes (tables, Spark scratch, JVM temp
files) stays under one work directory inside the checkout.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

# the driver JVM shares the box with the Python workers (local mode)
DRIVER_MEMORY = "4g"
SPARK_SUBMIT_CLASS = b"org.apache.spark.deploy.SparkSubmit"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def other_spark_jvms() -> list[int]:
    """Pids of running Spark JVMs (concurrent sessions inflate timings up
    to 10x and starve each other's Python workers)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if SPARK_SUBMIT_CLASS in cmd:
            pids.append(int(d))
    return pids


def host_guard(wait_s: float = 30.0) -> None:
    """Wait for other Spark JVMs to exit; refuse to run if they do not."""
    deadline = time.time() + wait_s
    while pids := other_spark_jvms():
        if time.time() > deadline:
            raise SystemExit(f"perfbench: another Spark JVM is running (pids {pids}); refusing to measure")
        time.sleep(1.0)


def make_spark(repo_root: str, work_dir: str):
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # Python workers inherit the driver's environment: they need the repo
    # on their path (the crawl's fetch mapInPandas imports sosse_spark)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR (the gateway's handshake file goes there)
    from pyspark.sql import SparkSession

    n = cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.cleaner.periodicGC.interval", "30s")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.maxPlanStringLength", "4096")
        # one crawl round runs ~230 stages; the status store must still
        # hold a span's stages when the span ends
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100")
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, in MiB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait until the JVM process has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    # the JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)
