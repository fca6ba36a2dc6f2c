"""SparkSession construction with the engine's tuned defaults.

The reference's analog is its memory/process planner
(/root/reference/metaprofi/lib/utilities.py:131-211 + nproc config);
here the knobs are Spark confs: AQE for runtime re-planning and skew
splitting, Arrow batch sizing for the pandas UDF kernels, zstd Parquet
codec (the reference compresses stores with zstd,
metaprofi/lib/constants.py:8-9).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def default_driver_memory(meminfo: str) -> str:
    """Driver heap for a host, from the text of ``/proc/meminfo``:
    about half of ``MemTotal``, at least 1g and at most 48g.  A heap
    larger than physical RAM gets the JVM OOM-killed instead of GC'd."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            gib = int(line.split()[1]) // (2 * 1024 * 1024)  # kB -> GiB / 2
            return f"{min(max(gib, 1), 48)}g"
    return "1g"


def _host_driver_memory() -> str:
    try:
        with open("/proc/meminfo") as f:
            return default_driver_memory(f.read())
    except OSError:
        return "1g"


def get_spark(
    cores: int | str = "*",
    app_name: str = "metaprofi_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a local SparkSession whose python workers can import this
    package.

    In local mode workers inherit the driver environment, so exporting
    PYTHONPATH before the JVM starts is sufficient; on a real cluster
    the same is achieved with ``spark-submit --py-files metaprofi_spark.zip``.
    """
    pypath = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + pypath if pypath else "")
        )
    if _REPO_ROOT not in sys.path:
        sys.path.insert(0, _REPO_ROOT)

    n = os.cpu_count() or 8
    if isinstance(cores, int):
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n, 8)

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _host_driver_memory(),
        )
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        # keep shuffle/block files out of /tmp (aggressively cleaned in
        # some sandboxes => 'shuffle index No such file' mid-job)
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/root/spark-tmp"))
        .config("spark.python.worker.faulthandler.enabled", "true")
    )
    for key, val in (extra_conf or {}).items():
        b = b.config(key, val)
    return b.getOrCreate()
