"""Session factory: resource defaults derived from the host, and the
worker daemon that keeps tasks from re-reading unchanged zip archives."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from laion_spark.session import default_driver_mem


def _mem_total_bytes() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def test_default_driver_heap_fits_host():
    """The heap is pinned (-Xms == -Xmx): a default larger than the
    host's memory stops the JVM from starting at all."""
    mem = default_driver_mem()
    assert mem.endswith("m") and mem[:-1].isdigit(), mem
    heap = int(mem[:-1]) << 20
    assert 0 < heap <= _mem_total_bytes()
    assert heap <= 16 << 30


def _write_zip(path, names):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)  # a new inode, as a rebuilt archive has


def test_zip_guard_rereads_an_archive_only_when_it_changes(tmp_path, monkeypatch):
    import laion_spark.pydaemon  # noqa: F401 — installs the guard

    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, ["_laion_guard_probe_a"])
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("_laion_guard_probe_a")

    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) <= 1

        before = len(reads)
        _write_zip(archive, ["_laion_guard_probe_a", "_laion_guard_probe_b"])
        importlib.invalidate_caches()
        assert len(reads) == before + 1
        assert importlib.import_module("_laion_guard_probe_b").NAME == "_laion_guard_probe_b"
    finally:
        for name in ("_laion_guard_probe_a", "_laion_guard_probe_b"):
            sys.modules.pop(name, None)


def test_guard_install_is_idempotent():
    import laion_spark.pydaemon as pydaemon

    guard = zipimport.zipimporter.invalidate_caches
    pydaemon._install()
    assert zipimport.zipimporter.invalidate_caches is guard
    assert not hasattr(guard.__wrapped__, "__wrapped__")


def test_get_session_starts_workers_from_the_guarded_daemon(spark):
    import pyarrow as pa

    import laion_spark.pydaemon as pydaemon

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "laion_spark.pydaemon"

    def probe(batches):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        code = fn.__code__
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "file": [code.co_filename] * b.num_rows,
                    "wrapped": [hasattr(fn, "__wrapped__")] * b.num_rows,
                }
            )

    rows = spark.range(4, numPartitions=4).mapInArrow(probe, "file string, wrapped boolean").collect()
    assert len(rows) == 4
    for r in rows:
        assert r.wrapped
        assert os.path.samefile(r.file, pydaemon.__file__)


def test_daemon_module_imports_from_any_cwd_without_starting(spark):
    pythonpath = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert pythonpath
    out = subprocess.run(
        [sys.executable, "-c", "import laion_spark.pydaemon"],
        cwd="/",
        env={"PYTHONPATH": pythonpath},
        stdin=subprocess.DEVNULL,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout == ""  # a started daemon prints its port
