"""SparkSession factory tuned for this engine.

Local mode here, but every knob is chosen for the 1000-executor /
100 TB case: AQE on (runtime coalesce + skew-join splitting), Arrow
for the pandas-UDF kernels, shuffle partitions sized to parallelism
(caller overrides per stage via repartition when data size demands).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Directory holding the worker-side sitecustomize (zipimporter
# invalidate_caches mtime guard — see workerenv/sitecustomize.py).
# Appended to the Python workers' PYTHONPATH below: python 3.11 worker
# processes otherwise re-read every zip archive's central directory at
# the START OF EVERY TASK (pyspark.worker calls
# importlib.invalidate_caches() per task), measured at 130-380 ms/task
# — the bulk of the per-task Python handshake floor.
_WORKERENV = str(Path(__file__).resolve().parent / "workerenv")


def default_driver_mem() -> str:
    """Driver heap: $SPARK_GRAFT_DRIVER_MEM, else 16g capped at half of
    the host's physical memory. The heap is pinned (-Xms), so a default
    above what the host has gets the JVM OOM-killed."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    mb = 16 << 10
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        mb = min(mb, total // 2 >> 20)
    except (ValueError, OSError):
        pass
    return f"{mb}m"


def default_cpus() -> int:
    """Local cores: $SPARK_GRAFT_CPUS, else the size of this process's
    CPU affinity mask (the cores it may actually run on)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


def get_spark(app: str = "gpiv_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = 2 * cpus
    driver_mem = default_driver_mem()
    # preserve any caller-provided worker PYTHONPATH entries
    worker_pp = os.pathsep.join(
        p for p in (os.environ.get("SPARK_GRAFT_WORKER_PYTHONPATH", ""),
                    _WORKERENV) if p
    )
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.executorEnv.PYTHONPATH", worker_pp)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # floor for AQE partition coalescing (parallelismFirst): keeps
        # CPU-bound pandas-UDF stages at >= 4 tasks/core even when the
        # shuffled bytes are small — byte-based coalescing otherwise
        # serializes the NumPy kernels (observed: 1024 cells -> 23 tasks)
        .config("spark.default.parallelism", str(4 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Spark 4.1's arrow.maxBytesPerBatch (default 64m) makes the
        # python-input writer call ArrowWriter.sizeInBytes() PER ROW — a
        # walk over every vector buffer (measured: ~8 JVM core-seconds
        # per 1M 5-column rows, capping every mapInPandas stage at
        # ~3.5M rows/s regardless of cores). Int.MaxValue is the coded
        # sentinel that disables the per-row check (see
        # BatchedPythonArrowInput.underBatchSizeLimit); batches stay
        # bounded by maxRecordsPerBatch above.
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str((1 << 31) - 1))
        .config("spark.driver.memory", driver_mem)
        # Pinned heap + ParallelGC: G1's periodic uncommit (madvise ->
        # TLB-shootdown IPIs) burned 5x more kernel than user CPU on this
        # virtualized 32-core box and inverted thread scaling.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{driver_mem} -XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
