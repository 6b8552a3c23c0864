"""bench.py internals that broke (or nearly broke) a live run.

Pure-python bench helpers, plus the bench's writer call sites run at
toy size on the shared Spark session.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_du_tolerates_vanishing_files(tmp_path, monkeypatch):
    """Spark's ContextCleaner deletes shuffle temp files while du()
    walks a blockmgr dir; a getsize on the vanished entry crashed the
    r14 smoke run inside recycle_session."""
    a = tmp_path / "a.bin"
    b = tmp_path / "b.bin"
    a.write_bytes(b"x" * 100)
    b.write_bytes(b"y" * 50)

    real_getsize = os.path.getsize

    def racy_getsize(path):
        if str(path).endswith("b.bin"):
            raise FileNotFoundError(path)
        return real_getsize(path)

    monkeypatch.setattr(os.path, "getsize", racy_getsize)
    assert bench.du(str(tmp_path)) == 100


def _stress_inputs():
    """The r13c near-miss shape, inflated: 46 catalog rows, 10 vec rows
    with full positional detail, 31 error keys (17 real + 14
    suppressed), floors, nprobe sweep, disk-plan marker."""
    queries = {f"q{i:02d}_stress_name_{i}": 1.0 + i * 0.0137 for i in range(46)}
    extras = {}
    for i in range(10):
        k = f"knn768_stress{i}" if i % 2 else f"ann768_stress{i}"
        queries[k] = 10.0 + i * 0.111
        extras[f"{k}_best_sec"] = 9.0 + i * 0.111
        extras[f"{k}_bytes_fraction"] = 0.0078
        extras[f"{k}_recall_at_10"] = 1.0
        extras[f"{k}_speedup"] = 10.0 + i
    extras["ann768_nprobe"] = 2
    extras["ann768_nprobe_sweep"] = [[1, 0.9], [2, 1.0], [4, 1.0], [8, 1.0]]
    extras["layout"] = "ivf_cluster=64"
    extras["disk_plan"] = {"action": "evicted_ivf_then_downgraded"}
    for fk in ("disk2g", "cache2g", "cpu2e8", "vector", "sentinel", "ann768_job", "catalog", "fault64m"):
        extras[f"{fk}_floor_sec"] = 1.23456
    errors = {f"fail_{i:02d}": f"RuntimeError: stage {i} exploded with a long traceback line" for i in range(17)}
    for i in range(14):
        errors[f"sup_{i:02d}"] = "suppressed: upstream build failed"
    return queries, extras, errors


def test_compact_line_stress_shape_fits_tail_window():
    """VERDICT r13 #8: the 1901 B near-miss showed the 1900 B cliff is
    real; the trim cascade must converge under the worst shape seen plus
    margin, and never drop recall/rows/root-cause."""
    queries, extras, errors = _stress_inputs()
    line = bench.build_compact_line(queries, extras, errors, sf=0.1)
    assert len(line) <= 1900
    parsed = json.loads(line)
    # the artifact's point survives every trim step
    assert parsed["metric"] == "headline_suite_total"
    assert "root_error" in parsed
    assert parsed["root_error"][0] == "fail_00"
    assert "error_keys" in parsed and parsed["error_keys"]
    # every vec row keeps median + recall (cols 3/4 may be trimmed)
    assert len(parsed["vec"]) == 10
    for row in parsed["vec"].values():
        assert row[0] > 0
    assert any(c == "recall" for c in parsed["vec_cols"])
    assert parsed["floors"]
    assert parsed["disk_plan"] == "evicted_ivf_then_downgraded"


def test_compact_line_no_trim_roundtrip():
    """A healthy-run shape emits full 3-dp detail untouched."""
    queries = {"q01_pricing_summary": 0.6134, "knn768": 1.0832}
    extras = {"knn768_best_sec": 1.0321, "layout": "none"}
    line = bench.build_compact_line(queries, extras, {}, sf=0.1)
    parsed = json.loads(line)
    assert parsed["queries"]["q01_pricing_summary"] == 0.613
    assert parsed["vec"]["knn768"] == [1.083, 1.032]
    assert "error_keys" not in parsed
    assert len(line) <= 1900


def test_done_flush_fsyncs_only_the_fixture(tmp_path, monkeypatch):
    """ADVICE r15 #3: the post-build flush must not wait on every other
    writer on the host (os.sync), only on the fixture's own files; the
    _DONE marker is still written, after the data."""
    fix = tmp_path / "fixture"
    (fix / "part=1").mkdir(parents=True)
    (fix / "a.parquet").write_bytes(b"a")
    (fix / "part=1" / "b.parquet").write_bytes(b"b")

    def no_sync():
        raise AssertionError("system-wide os.sync() called")

    synced = []
    real_fsync = os.fsync

    def recording_fsync(fd):
        synced.append(os.readlink(f"/proc/self/fd/{fd}"))
        real_fsync(fd)

    monkeypatch.setattr(os, "sync", no_sync)
    monkeypatch.setattr(os, "fsync", recording_fsync)
    bench._done_flush(str(fix))

    assert (fix / "_DONE").exists()
    for p in ("a.parquet", "part=1/b.parquet", "part=1", "_DONE"):
        assert str(fix / p) in synced, p
    assert synced.index(str(fix / "_DONE")) > synced.index(str(fix / "a.parquet"))
    assert synced[-1] == str(fix)


def test_bench_writer_call_sites_run_at_toy_size(spark, tmp_path):
    """bench.py cannot run end to end on a small host (its fixtures
    need ~25 GB), so a writer signature that drifted from the bench's
    calls would surface only on a big one. Run its packed-base fixture
    and its sliced index-build call shapes at n=64, dim=8."""
    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import write_int8_index, write_packed_index

    n, dim = 64, 8
    base = str(tmp_path / "base")
    bench.synth_packed_base(spark, n, dim, base)
    assert os.path.exists(f"{base}/_DONE")
    assert spark.read.parquet(base).count() == n

    idx = IVFIndex(dim=dim, n_clusters=4, n_iters=1, nprobe=2)
    idx.fit(bench.synth_df(spark, n, dim, clustered=True), id_col="id",
            vector_col="embedding", fit_rows=None)
    for writer in (write_packed_index, write_int8_index):
        path = str(tmp_path / writer.__name__)
        for sl, (lo, hi) in enumerate(((0, n // 2), (n // 2, n))):
            writer(
                idx.build(
                    bench.synth_df(spark, hi, dim, clustered=True, start=lo, packed=True),
                    "embedding",
                ),
                path, dim=dim, vector_col="embedding",
                row_group_bytes=8 * 1024 * 1024,
                mode="overwrite" if sl == 0 else "append",
            )
        assert spark.read.parquet(path).count() == n
