"""Session factory: resource defaults derived from the host, and the
worker daemon that keeps tasks from re-reading unchanged zip archives."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

from laion_spark.session import _PACKAGE_ROOT, default_driver_mem


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
                    "uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")] * b.num_rows,
                }
            )

    rows = (
        spark.range(4, numPartitions=4)
        .mapInArrow(probe, "file string, wrapped boolean, uds string")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.wrapped
        assert os.path.samefile(r.file, pydaemon.__file__)
        assert r.uds.lower() == "true"  # the daemon and its workers talk AF_UNIX


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


def _long_temp_env(tmp_path):
    """An env whose TMPDIR and java.io.tmpdir are over 100 bytes long:
    "<dir>/.<uuid>.sock" under it overflows AF_UNIX's 107-byte path."""
    long_tmp = tmp_path / ("t" * max(8, 101 - len(str(tmp_path))))
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 100
    env = dict(os.environ)
    env.update(
        TMPDIR=str(long_tmp),
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={long_tmp}",
        PYTHONPATH=_PACKAGE_ROOT,
        SPARK_GRAFT_DRIVER_MEM="512m",
    )
    return long_tmp, env


def _left_behind(root):
    return [
        os.path.join(d, f)
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".sock") or f.startswith("laion_spark_pkg_")
    ]


_SOCKET_JOB = """
import json, os
import pyarrow as pa
from laion_spark.session import get_session

spark = get_session("uds_probe", cpus=2)
sock_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")

def probe(batches):
    for b in batches:
        flag = os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")
        yield pa.RecordBatch.from_pydict({"id": b.column(0), "uds": [flag] * b.num_rows})

rows = spark.range(4, numPartitions=4).mapInArrow(probe, "id long, uds string").collect()
spark.stop()
print(json.dumps({"dir": sock_dir, "rows": sorted([r.id, r.uds.lower()] for r in rows)}))
"""


def test_unix_sockets_work_and_leave_nothing_under_a_long_temp_dir(tmp_path):
    """A session started under a long temp dir runs a Python job over
    AF_UNIX sockets, and once the driver exits no socket, socket dir
    or package zip is left."""
    long_tmp, env = _long_temp_env(tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", _SOCKET_JOB],
        cwd=str(tmp_path),
        env=env,
        stdin=subprocess.DEVNULL,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["rows"] == [[i, "true"] for i in range(4)]
    sock_dir = got["dir"]
    assert sock_dir and len(os.fsencode(sock_dir)) + 43 <= 107
    assert not os.path.exists(sock_dir)
    assert _left_behind(long_tmp) == []


_SHIP_ONLY = """
import os
from types import SimpleNamespace
from laion_spark.session import _ship_package

added = []
spark = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=added.append))
_ship_package(spark)
assert len(added) == 1 and os.path.getsize(added[0]) > 0
print(added[0])
"""


def test_ship_package_deletes_its_zip_at_exit(tmp_path):
    long_tmp, env = _long_temp_env(tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", _SHIP_ONLY],
        cwd=str(tmp_path),
        env=env,
        stdin=subprocess.DEVNULL,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    zpath = out.stdout.strip()
    assert os.path.basename(zpath).startswith("laion_spark_pkg_")
    assert not os.path.exists(zpath)
    assert not os.path.exists(os.path.dirname(zpath))
    assert _left_behind(long_tmp) == []
