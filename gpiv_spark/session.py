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


def _default_driver_mem() -> str:
    """min(16g, ~40% of the cgroup or physical memory limit). The heap
    is pinned (-Xms), so it is committed up front; the rest is left to
    the Python workers and the page cache the pack mmaps live in."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for f in ("/sys/fs/cgroup/memory.max",
              "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            v = Path(f).read_text().strip()
        except OSError:
            continue
        if v.isdigit():
            limit = min(limit, int(v))
    return f"{max(1, min(16, int(0.4 * limit) >> 30))}g"


def get_spark(app: str = "gpiv_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                                  len(os.sched_getaffinity(0))))
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    if shuffle_partitions is None:
        shuffle_partitions = 2 * cpus
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
        .config("spark.driver.memory", heap)
        # Pinned heap + ParallelGC: G1's periodic uncommit (madvise ->
        # TLB-shootdown IPIs) burned 5x more kernel than user CPU on a
        # virtualized 32-core box and inverted thread scaling.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap} -XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
