"""Spark session life cycle for the benchmark.

All of Spark's local storage (shuffle files, warehouse, JVM temp files,
event logs) is kept under the benchmark's work directory, and
``shutdown`` ends the JVM and every process it started before returning.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

from perfbench.procsample import descendants

__all__ = ["prepare_env", "start", "warm_up", "shutdown", "nproc"]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Environment for the JVM and the Python workers it starts.  Must
    run before pyspark launches the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start(work: str, event_log_dir: str | None = None):
    """A ``local[nproc]`` session; with ``event_log_dir`` the event log is
    written there as one uncompressed JSON file."""
    from pyspark.sql import SparkSession
    cpus = nproc()
    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
         # the heap may grow to 2 GB as the job needs it, so the tree's
         # RSS follows the job's memory; no perf-data file, which the JVM
         # would write outside ``work``
         .config("spark.driver.memory", "2g")
         .config("spark.driver.extraJavaOptions",
                 f"-XX:-UsePerfData "
                 f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.eventLog.enabled", str(event_log_dir is not None).lower()))
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.dir", event_log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, warm_pages: str, out_dir: str) -> None:
    """Start the Python workers and run the extraction once on a small,
    fixed pages table, written to parquet under ``out_dir`` and read
    back, so imports and JIT warm-up of the kernel and of the file
    writer and reader fall outside timing."""
    from lexor_spark.job import extract_pages
    (extract_pages(spark.read.parquet(warm_pages))
     .write.mode("overwrite").parquet(out_dir))
    spark.read.parquet(out_dir).agg({"kernel_us": "sum"}).collect()


def shutdown(timeout_s: float = 30.0) -> None:
    """End the JVM and wait for every descendant process to exit."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for sig in (None, signal.SIGKILL):
        if sig is not None:
            for pid in descendants():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            try:  # reap our own children; grandchildren only need to go
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            if not descendants():
                return
            time.sleep(0.1)
    print(f"perfbench: processes left running: {descendants()}", file=sys.stderr)
