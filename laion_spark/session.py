"""SparkSession factory and runtime tuning.

Local-mode testing config mirrors a 1000-executor posture: AQE on
(runtime coalesce + skew-join handling), shuffle partitions sized to
cores locally (on a real cluster: 2-3x total cores), Arrow enabled for
every pandas boundary, UTC session timezone so results are comparable
with external engines (parquet timestamps are instants; DuckDB reads
them UTC-naive).

Sessions made by ``get_session`` also start their Python workers from
``laion_spark.pydaemon``. PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task, and on
CPython 3.11 that re-reads the central directory of every zip archive on
the worker's ``sys.path``: the Spark core jar (2 cached entries) and
``pyspark.zip`` (12 entries). Measured inside workers running 4 tasks at
once on a 4-core host, that is 200-280 ms per task (jar 97-117 ms,
``pyspark.zip`` 100-162 ms) although the archives never change; the
daemon re-reads an archive only when its stat stamp changes, and the
guarded call takes ~0.3 ms. The ``pythonInitTime`` of a warm no-op
``mapInArrow`` task went from a median of 443 to 129 ms.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs — safe to apply to an externally created
# session (e.g. the verification driver's); everything here can be set
# after startup via spark.conf.set.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 768-d float64 embeddings ~6 KB/row: 10k-row Arrow batches keep the
    # Python-boundary transfer ~60 MB per batch worst case.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Spark has no TIMESTAMP(NANOS) type; read nanos as raw bigint
    # (events.parquet uses nanos) and convert explicitly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def _ship_package(spark: SparkSession) -> None:
    """Ship laion_spark to executor Python workers via addPyFile.

    Worker-side closures (mapInPandas/mapInArrow) reference functions
    from this package; workers unpickle them by module reference, so the
    package must be importable there. Locally that only holds when the
    driver's cwd is the repo; on a real cluster it never holds. Zipping
    the package and addPyFile-ing it is the standard, cluster-correct
    fix (and is idempotent per session)."""
    if getattr(spark, "_laion_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    import laion_spark

    pkg_dir = os.path.dirname(os.path.abspath(laion_spark.__file__))
    zpath = os.path.join(tempfile.gettempdir(), f"laion_spark_pkg_{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    arc = os.path.join("laion_spark", os.path.relpath(full, pkg_dir))
                    z.write(full, arc)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # e.g. Spark Connect — closures are shipped differently there
    spark._laion_pkg_shipped = True


def tune_session(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host — keep its value
    n = shuffle_partitions or default_parallelism()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    except Exception:
        pass
    _ship_package(spark)
    return spark


def _tune_worker_malloc() -> None:
    """Pin glibc so python workers KEEP freed large buffers (r14).

    Measured on this sandbox: first-touch of freshly mapped anonymous
    memory intermittently costs ~100-1100 us PER 4 KB PAGE (the
    hypervisor backs guest pages on demand under host memory
    overcommit), i.e. 10-17 s to touch a fresh 64 MB buffer — while
    re-touching an already-backed buffer costs microseconds. glibc's
    default M_MMAP_THRESHOLD (<=32 MB) mmap/munmaps every larger
    allocation, so each numpy temporary in the scorer/generator hot
    loops could re-fault its whole footprint every call. Disabling
    trim and raising the mmap threshold to 256 MB keeps those buffers
    in the arena: each worker pays first-touch once per working-set
    byte and never again. Env must be set BEFORE a process starts
    (glibc reads it at startup) — setting it here, before the JVM
    spawns, propagates JVM -> python daemon -> every worker. Harmless
    on healthy hosts (slightly higher steady-state RSS)."""
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(256 * 1024 * 1024))


def default_driver_mem() -> str:
    """Default driver heap: ~55% of physical memory, capped at 16g.

    The heap is pinned (``-Xms`` == ``-Xmx``, see ``get_session``), so a
    fixed size larger than the host's memory stops the JVM from
    starting at all; deriving it from the host leaves the rest for the
    python workers and the OS page cache that the parquet scans lean on.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(int(phys * 0.55) >> 20, 16 << 10)}m"


def get_session(app_name: str = "laion_spark", cpus: int | None = None) -> SparkSession:
    """Create (or fetch) a local session tuned for this engine.

    On a real cluster the master/memory settings come from
    spark-submit; only the runtime confs in ``tune_session`` apply.

    Python workers start from ``laion_spark.pydaemon``, which stops each
    task from re-reading the unchanged ``pyspark.zip`` and Spark core
    jar (200-280 ms per task, see the module docstring). The daemon is
    imported before any ``addPyFile`` include exists, so the package root
    goes on the executors' ``PYTHONPATH``. Both confs are static:
    sessions made elsewhere and passed to ``tune_session`` keep the
    stock daemon.
    """
    _tune_worker_malloc()
    n = cpus or default_parallelism()
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.driver.memory", mem)
        # Xms == Xmx: G1 never uncommits heap regions, so the JVM too
        # pays this host's slow first-touch (see _tune_worker_malloc)
        # at most once per heap page instead of refaulting after every
        # periodic uncommit
        .config("spark.driver.extraJavaOptions", f"-Xms{mem}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.python.daemon.module", "laion_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark, shuffle_partitions=n)
