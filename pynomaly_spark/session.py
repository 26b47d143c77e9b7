"""SparkSession factory with scale-oriented defaults.

One place for the engine's Spark configuration so every job, test, and
bench runs with the same posture:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  — the engine's answer to hot repo/lang keys alongside explicit salting
  (:mod:`pynomaly_spark.skew`).
* Arrow enabled, with batches capped at 10k rows.  The cap sizes each
  Arrow message, not the drift kernel's memory: ``drift._map_groups``
  concatenates all of a task's batches before its pandas ``groupby``, so
  a drift task holds O(rows per task).
* shuffle partitions sized to cores for local runs; on a real cluster the
  validate job (:mod:`pynomaly_spark.jobs.validate_job`) overrides this to
  ~2-3x total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One Spark task = one Python worker = one kernel invocation.  numpy's
# BLAS would otherwise spawn a thread pool PER worker (32 workers x N
# threads thrashes the box); task-level parallelism is Spark's job.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

# glibc returns every free()d block over the mmap threshold straight to
# the kernel, so the LoOP kernel's per-chunk MB-size numpy temps page-
# fault on EVERY allocation (round-6 profile: 43.7 -> 28.5 ms per
# 1000-row group just from this knob — the faults cost more than the
# distance math).  Raising the threshold keeps those blocks on the heap
# free list for reuse.  glibc reads the variable at process start, so
# setting it here covers the JVM and every Python worker it spawns
# (children inherit); results are bit-identical — only the allocator
# changes.
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(64 * 1024 * 1024))

# Defaults chosen for a 100 TB posture scaled to local testing; every knob
# is overridable via extra_conf.
_ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # stream buffer between the JVM and each pandas-UDF worker (the
    # drift mapInPandas stream)
    "spark.sql.execution.pandas.udf.buffer.size": str(64 * 1024 * 1024),
    # parquet scan: keep splits near the default 128m so partition counts
    # track data volume, not file counts
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.enabled": "false",
    # cluster-mode propagation of the allocator knob above (local mode
    # inherits it via the process env; executors on a real cluster need
    # the explicit executorEnv)
    "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": str(64 * 1024 * 1024),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_local_dir() -> str | None:
    """Prefer RAM-backed shuffle space in this sandbox.

    The sandbox's virtual disk serializes concurrent shuffle writers
    (measured: 3-4x slowdown at 32 tasks); production clusters put
    spark.local.dir on striped NVMe, for which tmpfs is the honest local
    stand-in.  An explicit SPARK_LOCAL_DIRS always wins.
    """
    if os.environ.get("SPARK_LOCAL_DIRS"):
        return None
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        d = os.path.join(shm, "pynomaly-spark-local")
        os.makedirs(d, exist_ok=True)
        return d
    return None


def get_spark(
    app_name: str = "pynomaly-spark",
    cpus: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with engine defaults.

    ``cpus`` controls both ``local[N]`` and the shuffle-partition count;
    the N-vs-4N scaling bench calls this twice with different values.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        # Scan-parallelism floor (round 6, guide §6): the driver tables
        # are ONE parquet file each, and a file under maxPartitionBytes
        # scans as ONE task regardless of core count (sf1.0 lineitem =
        # 110 MB = 6M rows decoded on one core).  minPartitionNum makes
        # split sizing adaptive — max(openCost, bytes/N) — so multi-
        # row-group files split to session parallelism; at production
        # scale file counts dwarf N and this floor is a no-op.  Derived
        # from the session's core count, never a hard-coded constant.
        .config("spark.sql.files.minPartitionNum", str(n))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    local_dir = _default_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in _ENGINE_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
