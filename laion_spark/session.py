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

They also connect the JVM and the Python side over AF_UNIX sockets
(``spark.python.unix.domain.socket.enabled``) instead of loopback TCP:
the daemon and its workers, ``collect()`` result serving and the
accumulator server. Most of a small interactive query is the fixed
cost of one Python job, and on a 4-core host the sockets took a warm
no-op 4-task ``mapInArrow`` job from a median of 0.147 to 0.114 s, a
1-task one from 0.128 to 0.094 s and a 4-task RDD count from 0.154 to
0.114 s (``scripts/job_floor.py``, 5 fresh processes each). perfbench
ingest's ANN probe went from 0.256 to 0.225 s in the median of 22
pairs. A socket path must fit ``sun_path``: 107 bytes. Spark and
PySpark name each socket ``<dir>/<uuid>.sock`` or
``<dir>/.<uuid>.sock``, 43 bytes after a ``<dir>`` that defaults to
``java.io.tmpdir``, so a temp dir over 64 bytes long (perfbench puts
it inside the checkout) failed session start with ``OSError: AF_UNIX
path too long``. The sockets therefore go in ``driver_scratch_dir()``:
short, private to the driver process, and removed when it exits.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

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


# An AF_UNIX path fits sun_path's 108 bytes with its NUL: at most 107.
# Spark and PySpark name each socket "<dir>/<uuid>.sock" or
# "<dir>/.<uuid>.sock": up to 43 bytes after <dir>.
_SUN_PATH_MAX = 107
_SOCKET_NAME_MAX = 43


@functools.cache
def driver_scratch_dir() -> str:
    """A short private directory for this driver process, removed at exit.

    It holds the AF_UNIX sockets of ``get_session``'s sessions and the
    package zip ``_ship_package`` builds. It is made under
    ``tempfile.gettempdir()`` when the socket paths fit there, else
    under ``/tmp``: a temp dir such as ``<checkout>/.perfbench_work/
    <workload>-<pid>/tmp`` is longer than the 64 bytes a socket dir may
    have. ``mkdtemp`` makes it mode 0700, so only this user can connect
    to the sockets in it."""
    for base in (tempfile.gettempdir(), "/tmp"):
        try:
            path = tempfile.mkdtemp(prefix="laion-driver-", dir=base)
        except OSError:
            continue
        if len(os.fsencode(path)) + _SOCKET_NAME_MAX <= _SUN_PATH_MAX:
            atexit.register(shutil.rmtree, path, ignore_errors=True)
            return path
        os.rmdir(path)
    raise OSError(
        f"no temp dir short enough for AF_UNIX socket paths: {tempfile.gettempdir()!r}"
    )


def _ship_package(spark: SparkSession) -> None:
    """Ship laion_spark to executor Python workers via addPyFile.

    Worker-side closures (mapInPandas/mapInArrow) reference functions
    from this package; workers unpickle them by module reference, so the
    package must be importable there. Locally that only holds when the
    driver's cwd is the repo; on a real cluster it never holds. Zipping
    the package and addPyFile-ing it is the standard, cluster-correct
    fix (and is idempotent per session). The zip lives in
    ``driver_scratch_dir``, so it is deleted when the driver exits and
    not before: in local mode each executor copies it again from this
    path on its first task, which fails once the file is gone."""
    if getattr(spark, "_laion_pkg_shipped", False):
        return
    import zipfile

    import laion_spark

    pkg_dir = os.path.dirname(os.path.abspath(laion_spark.__file__))
    zpath = os.path.join(driver_scratch_dir(), f"laion_spark_pkg_{os.getpid()}.zip")
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
    goes on the executors' ``PYTHONPATH``.

    The JVM talks to the daemon, its workers, the accumulator server
    and ``collect()`` over AF_UNIX sockets in ``driver_scratch_dir()``,
    which cuts about a fifth off a warm Python job's fixed cost (see
    the module docstring).

    These confs are static: sessions made elsewhere and passed to
    ``tune_session`` keep the stock daemon and loopback TCP.
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
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", driver_scratch_dir())
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark, shuffle_partitions=n)
