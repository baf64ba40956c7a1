"""The benchmark's own pinned Spark session.

The session is pinned here rather than borrowed from ``bench.py`` so the
benchmark's conditions are explicit and sized for the host it runs on:
``local[nproc]``, shuffle partitions equal to the core count, UTC, the UI
and console progress off, and every scratch file inside the work
directory. ``PYTHONPATH`` is exported before the JVM starts because
``mapInPandas`` workers import the engine and this package by name; a
run launched from outside the repository root otherwise fails in the
workers with ``ModuleNotFoundError``.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: the Arrow batch size every Python-boundary operator sees; pinned so the
#: decode workload's per-batch costs do not move with Spark's default
ARROW_BATCH_ROWS = 10000


def cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def export_pythonpath() -> None:
    parts = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(parts))
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def build_session(workdir: Path, event_log_dir: Path | None = None):
    """A fresh local session pinned to the host it runs on. With ``event_log_dir``
    the session writes a plain-JSON, non-rolling event log there (Spark
    4.1 defaults to zstd-compressed rolling logs) for the trace reader."""
    export_pythonpath()
    local = workdir / "spark-local"
    tmp = workdir / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    from pyspark.sql import SparkSession

    n = cores()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory", "4g")
        .config("spark.local.dir", str(local))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", str(workdir / "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", str(event_log_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def first_python_job(spark) -> None:
    """One job through a Python worker, so set-up ends with a warm worker."""

    def ident(batches):
        yield from batches

    n = spark.range(0, 1000, 1, cores()).mapInPandas(ident, "id long").count()
    if n != 1000:
        raise RuntimeError(f"the first job counted {n} rows, expected 1000")


def stop_jvm(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit (it
    takes its Python workers with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
