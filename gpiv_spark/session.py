"""SparkSession factory tuned for this engine.

Local mode here, but every knob is chosen for the 1000-executor /
100 TB case: AQE on (runtime coalesce + skew-join splitting), Arrow
for the pandas-UDF kernels, shuffle partitions sized to parallelism
(caller overrides per stage via repartition when data size demands).

Two settings cut the fixed cost every Python task pays, which the
vectorized pandas/Arrow UDF stages (64 tasks per timed pass) would
otherwise multiply:

- every Python worker imports ``workerenv/sitecustomize.py`` (via
  spark.executorEnv.PYTHONPATH), which stops per-task zip re-reads and
  freezes the worker's heap after its first task;
- the JVM <-> worker channel runs over Unix-domain sockets in a private
  (0700) directory, one per driver process, short enough for AF_UNIX
  paths, and removed when the interpreter exits (``socket_dir``). Spark
  skips its socket secret handshake on Unix sockets, so the directory
  mode is the only access control.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession

# Directory holding the worker-side sitecustomize (see
# workerenv/sitecustomize.py). Appended to the Python workers'
# PYTHONPATH below: python 3.11 worker processes otherwise re-read
# every zip archive's central directory at the START OF EVERY TASK
# (pyspark.worker calls importlib.invalidate_caches() per task),
# measured at 130-380 ms/task, and run a full gc.collect() over the
# ~73k objects of the pandas/pyarrow/pyspark import graph after every
# task (21-41 ms/task).
_WORKERENV = str(Path(__file__).resolve().parent / "workerenv")

# AF_UNIX socket paths hold at most 107 bytes. Spark names each socket
# ``<dir>/.<uuid4>.sock`` (43 bytes after the dir), and mkdtemp adds
# "/" + prefix + 8 random characters to its base directory.
_UNIX_PATH_MAX = 107
_SOCK_NAME_LEN = len("/.00000000-0000-0000-0000-000000000000.sock")
_SOCK_DIR_PREFIX = "gpiv-uds-"


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


@functools.cache
def socket_dir() -> str:
    """The process's private (0700) directory for Unix sockets, made on
    first use under the temp dir ($TMPDIR) when the socket paths fit
    there, else under /tmp (a long checkout or work path would otherwise
    fail every Python task with "AF_UNIX path too long"), and removed
    with any sockets left in it when the interpreter exits. One per
    driver process: the JVM reads the dir of its driver-side socket
    servers (toArrow, collect) once, from the first session's conf, so
    later sessions in the process must reuse the path."""
    room = _UNIX_PATH_MAX - _SOCK_NAME_LEN - len(f"/{_SOCK_DIR_PREFIX}") - 8
    base = tempfile.gettempdir()
    if len(base) > room:
        base = "/tmp"
    path = tempfile.mkdtemp(prefix=_SOCK_DIR_PREFIX, dir=base)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


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
        # Unix-domain sockets for the JVM <-> Python worker channel:
        # over loopback TCP a no-op task (heap frozen) spent ~54 of its
        # ~61 ms of wall waiting on the JVM in pyarrow.ipc.open_stream
        # and read_int. socket_dir() holds the directory rules.
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", socket_dir())
        .getOrCreate()
    )
