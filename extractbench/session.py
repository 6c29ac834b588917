"""Spark session for the benchmark: the benchmark sets resources only.

Resource settings (master, driver memory, UI off, local and temp dirs,
and the event log in the traced run) come from here; program settings are
the ones the production jobs set (``jobs/extract.py``,
``jobs/webcorpus.py``): AQE on, UTC session time zone, 512-row Arrow
batches.
"""

from __future__ import annotations

import os
import signal
import subprocess

from . import procstat

DRIVER_MEMORY = "2g"
PROGRAM_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
}


def cores() -> int:
    """k for local[k]: one less than the CPUs this process may use, at
    most 3. The spare CPU keeps the JVM's compiler and GC threads and the
    benchmark's own sampler from competing with the task threads, which
    on 4 CPUs left the JVM still compiling hot paths after many jobs."""
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


def resource_conf(cache: str, event_log_dir: str | None) -> dict[str, str]:
    tmp = os.path.join(cache, "tmp")
    conf = {
        "spark.master": f"local[{cores()}]",
        "spark.app.name": "extractbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(cache, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(cache, "warehouse"),
        # initial heap = max heap: no heap-growth decisions, so the
        # committed heap (most of the JVM's RSS) does not vary run to run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
    }
    if event_log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start(cache: str, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(cache, d), exist_ok=True)
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
    builder = SparkSession.builder
    for key, value in {**resource_conf(cache, event_log_dir),
                       **PROGRAM_CONF}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark, shut the JVM down and wait until the JVM and its Python
    workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = [] if proc is None else [proc.pid, *procstat.descendants(proc.pid)]
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            # the JVM's gateway server exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        for pid in procstat.wait_gone(pids, 30):
            os.kill(pid, signal.SIGKILL)
        procstat.wait_gone(pids, 10)
