#!/usr/bin/env python
"""BENCH harness — headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS], printing TWO JSON lines on stdout:
the full detail dict first, then a compact (<1.9 kB) final line

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

sized for tail-capture parsers that keep only the last ~2000 chars.

Two classes of measurement:
  - catalog headliners: representative oracle-checked queries from
    laion_spark.catalog at the bench scale factor;
  - ``knn768``: the BASELINE-comparable number — brute-force L2
    top-10 over a deterministic synthetic 1M x 768-d table
    (FIXTURES.md §6 ``laion_bench`` shape), scored by the scan-side
    Arrow+BLAS path (knn_search_parquet — exact, parity-tested
    against the codegen path). BASELINE.md's slowest brute-force row
    is 10.272 s for 10M rows x 768-d; scaled linearly to 1M rows the
    reference-equivalent is ~1.03 s, so the 2x contract target is
    <= ~2.05 s (>= ~487k rows/s).

Every timing is wall-clock of a full action (collect) after a warm-up
run of the session (JVM/codegen warm, data in OS page cache — matching
the reference's warm-server numbers). knn768 reports the MEDIAN of 5
runs in ``queries`` plus the BEST run and best-run rows/s as separate
fields: this host shows 5-30x wall-clock swings under neighbor CPU
contention, and a median alone can neither prove nor disprove the 2x
contract — the best-of-N is the contention-resistant throughput bound.

Storage-variant context (BASELINE.md): the reference's OWN bfloat16
table ran ~8x SLOWER than its float32 scan (16.995 s vs 2.088 s at
100M rows) — half-width storage traded scan bytes for decode cost
there. This engine stores float16 vectors packed, one
fixed_size_binary(2*dim) value per vector, which decodes by bulk
memcpy, so ``knn768_f16p`` scans at full byte speed on half the bytes
(a list<float16> column decodes per value and was measured slower than
the float32 scan). Likewise the headline "8.5x ANN" ratio compares Annoy
against that slow bfloat16 brute force; against the reference's fast
float32 100M scan the same Annoy run is 1.04x (2.006 s vs 2.088 s).
``ann768_speedup`` here compares ANN to brute force on the SAME table
— the strictest version of the comparison.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from laion_spark.operators.knn import knn_search_parquet
from laion_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_VEC = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "1000000"))
#: ANN section row count — larger than N_VEC on purpose: at 1M rows the
#: local per-job floor (~0.5 s of scheduling/dispatch) swamps the probe's
#: saved decode time and the measured speedup collapses toward 1x even
#: though the probe reads 1/8 of the bytes. At 8M rows (24 GB) decode
#: dominates both sides and the wall-clock ratio approaches the bytes
#: ratio — the regime the reference's 100M-row Annoy numbers live in.
#: 8M (not the 16M VERDICT r6 floated) is the disk ceiling's answer:
#: this host's fs reserves ~160 GB for another uid (resv_strict mount),
#: leaving ~80 GB of real /tmp budget — a 16M ivf table is 48 GB plus a
#: 48 GB build-shuffle transient, which cannot coexist with the 10M
#: brute-force fixture (29 GB) the BASELINE rows need. VERDICT r7/r8
#: explicitly allowed the 8M fallback; the curve is now 1M→4M→8M.
N_ANN = int(os.environ.get("SPARK_GRAFT_BENCH_ANN_ROWS", "8000000"))
#: the BASELINE-published brute-force scale (10M x 768); env knob so a
#: code-path smoke can shrink or skip it without touching the 29 GB
#: fixture a full run wants warm
N_10M = int(os.environ.get("SPARK_GRAFT_BENCH_10M_ROWS", "10000000"))
DIM = 768

#: big-pair (SQ8 ladder) build-slice sizing, named as a COUPLED pair
#: (ADVICE r14 #1): the per-slice wedge watchdog fires at
#: ~WATCHDOG_S_PER_MROW seconds per million slice rows (~3x a
#: hostile-weather build pass), so capping slices at SLICE_CAP_ROWS
#: bounds one hung worker's budget cost to
#: SLICE_CAP_ROWS / 1e6 * WATCHDOG_S_PER_MROW ≈ 1200 s. Change either
#: constant and the wedge-cost bound moves with it.
SLICE_CAP_ROWS = 8_000_000
WATCHDOG_S_PER_MROW = 150.0


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _done_flush(path: str) -> None:
    """Flush a fixture's dirty pages, then stamp its completion marker,
    BEFORE any timed row runs against it (r15, guide §1.4 measurement
    hygiene): a multi-GB rewrite otherwise leaves kernel writeback
    competing with the immediately following timed scan — the per-row
    disk_ratio stamps flagged exactly that on the f16p/i8 10M rows
    (dr 3.4 / 1.9–5.8 across runs, always right after their rewrite).
    The flush is fixture-build work, outside every timed region; it
    shifts writeback cost into the build where the budget gates already
    account for it. Only the fixture's own files and directories are
    fsynced (ADVICE r15 #3): a system-wide os.sync() would also wait on
    every other writer on the host."""
    for root, _dirs, files in os.walk(path, topdown=False):
        for f in files:
            _fsync(os.path.join(root, f))
        _fsync(root)
    open(f"{path}/_DONE", "w").close()
    _fsync(f"{path}/_DONE")
    _fsync(path)


def _bench_cpus() -> int:
    c = os.environ.get("SPARK_GRAFT_CPUS")
    return int(c) if c and c.isdigit() else (os.cpu_count() or 8)


#: Low-core scaling subset (VERDICT r14 next-round #5): the driver's
#: 8-core scaling run hit its external ~3600 s kill (rc 124) in BOTH
#: r13 and r14 while building the 30 GB 10M base / 24 GB ivf at a
#: quarter of the cores, landing only 3 scaling keys each time. At or
#: below this core count the suite skips the BIG-FIXTURE sections
#: (10M vec family, 8M ivf/ANN probes, the 32M/16M SQ8 pair, the
#: 4M/10M dedup decades) and keeps every cheap-fixture row — the 1M
#: vector ladder, catalog heads, the events/streaming 10M family, ETL
#: and the 1M dedup rows: ~25 keys, each also present in the
#: full-core artifact with the SAME methodology, which is what the
#: driver's per-query scaling ratio needs. A coverage gate keyed on
#: the driver-set core count, not a tuning knob — no timed key's
#: semantics change.
LOW_CORE_CPUS = 12
LOW_CORE = _bench_cpus() <= LOW_CORE_CPUS

#: the 10M brute-force base, packed-f32 FSB layout (r14, guide §6): the
#: SAME float32 values as the pre-r14 list<float> fixture — only the
#: physical parquet encoding changes (one fixed_size_binary(4*dim)
#: value per vector instead of a 768-element list). Parquet decodes
#: large fixed-width values by bulk memcpy and flat_matrix reinterprets
#: the buffer zero-copy, so the scan sheds the per-element list decode
#: that dominated knn768_10m (the r13 weak row). The new name keeps a
#: stale list-layout fixture from a prior round from being served
#: silently — fixture_sweep reclaims it at suite start.
BASE10M_PATH = f"/tmp/laion_bench_{N_10M}x{DIM}pf32.parquet"
#: 1M packed twin of the measured list-layout base — the in-artifact
#: A/B evidence for the layout switch (knn768_pk vs knn768)
BASE1M_PK_PATH = f"/tmp/laion_bench_{N_VEC}x{DIM}pf32.parquet"

#: the persisted ANN index table + its quantizer (C=256 clusters, 8 MB
#: row groups — the ann section's C/RG_MB constants). Module-level so
#: the 10M section's disk planner can name the table as a LAST-RESORT
#: eviction: 10M base (30 GB) + ivf table (24 GB) cannot coexist in
#: the ~52 GB real /tmp budget, and r11/r12 both lost the 10M family
#: to that conflict. The centroids json (4 MB) is NEVER evicted — a
#: rebuilt index reuses it and skips the ~90 s k-means fit.
IVF_PATH = f"/tmp/laion_bench_{N_ANN}x{DIM}_ivf256rg8.parquet"
IVF_CENT = f"/tmp/laion_bench_{N_ANN}x{DIM}_ivf256rg8_centroids.json"

#: the EXACT eviction candidates the 10M-base and ivf-build
#: ensure_free calls pass (single source of truth — ADVICE r13:
#: disk_plan used to sum every present fixture, incl. base1m/docs1m
#: which neither real eviction path touches, so the plan could stamp
#: "fits" in states the eviction path could not actually reach).
EVICT_10M = [
    f"/tmp/laion_bench_{N_VEC}x{DIM}_f16p.parquet",
    f"/tmp/laion_bench_{N_VEC}x{DIM}_i8.parquet",
    "/tmp/laion_events_10000000_tsorted.parquet",
    IVF_PATH,
    f"/tmp/laion_etl_32x16384x{DIM}",
    "/tmp/laion_docs_4m.parquet",
    "/tmp/laion_docs_10m.parquet",
]
EVICT_IVF = [
    f"/tmp/laion_bench_{N_VEC}x{DIM}_f16p.parquet",
    BASE10M_PATH,
    "/tmp/laion_events_10000000_tsorted.parquet",
    f"/tmp/laion_etl_32x16384x{DIM}",
    "/tmp/laion_docs_4m.parquet",
    "/tmp/laion_docs_10m.parquet",
]

#: catalog queries worth timing (one per operator family)
HEADLINERS = [
    "v01_knn_l2_topk",
    "v03_knn_cosine_topk",
    "v08_knn_join",
    "v09_label_centroids",
    "q01_pricing_summary",
    "q02_join_revenue_by_segment",
    "q10_window_rank",
    "q30_shipping_priority",
    "e02_sessionization",
    "e06_window_funnel",
    "t02_top_tokens",
    "t07_topk_approx",
    "q38_incremental_agg_merge",
    "q44_local_supplier_volume",
    "q50_replacing_final",
    "d03_jaccard_similar_pairs",
    # round-6 TPC-H completion: the profit rollup (6-way join over the
    # derived partsupp) and the double-correlation Q21 shape are the
    # two heaviest of the seven new entries
    "q93_product_type_profit",
    "q95_waiting_orders",
]


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 4)


def section_floor(spark, extras: dict, section: str) -> None:
    """Contention sentinel: a fixed no-op 32-task JVM job, best-of-3,
    stamped at the top of each bench section as ``{section}_floor_sec``.
    Sub-second rows sit on this scheduler floor, and the host shows
    3-10x neighbor-CPU spikes — a cross-round delta on a small row is
    only signal if it exceeds the floor delta of its section, which
    this makes auditable in the artifact itself (VERDICT r6 obs #1)."""
    try:
        extras[f"{section}_floor_sec"] = min(
            timed(lambda: spark.range(0, 32, 1, 32).count()) for _ in range(3)
        )
    except Exception:  # noqa: BLE001 — the sentinel must never cost a row
        pass


def fault_floor(extras: dict, prefix: str = "") -> None:
    """Hypervisor first-touch latency sentinel (r14): times `fill` on
    three FRESH 64 MB buffers (kept alive so each sample faults new
    pages). On this sandbox, lazily hypervisor-backed pages
    intermittently cost 100-1100 us each to first-touch (10-17 s per
    64 MB) while re-touch is microseconds — the mechanism behind the
    multi-round "IO weather": cold reads, shuffle buffers and fresh
    worker arenas all ride it. min lands in the compact line's
    floors{}; max records the in-run swing. See
    session._tune_worker_malloc for the arena-reuse mitigation."""
    try:
        import numpy as np

        keep, ts = [], []
        for _ in range(3):
            a = np.empty(64 * 1024 * 1024, dtype=np.uint8)
            t0 = time.perf_counter()
            a.fill(1)
            ts.append(round(time.perf_counter() - t0, 4))
            keep.append(a)
        del keep
        extras[f"{prefix}fault64m_floor_sec"] = min(ts)
        extras[f"{prefix}fault64m_worst"] = max(ts)
        print(f"  fault floor{(' ' + prefix) if prefix else ''}: {ts}", file=sys.stderr)
    except Exception:  # noqa: BLE001 — the sentinel must never cost a row
        pass


def du(path: str) -> int:
    """Recursive directory byte count (bytes-fraction metrics).

    Tolerates files vanishing mid-walk: Spark's ContextCleaner deletes
    shuffle temp files concurrently, and a getsize on a just-removed
    entry must not crash the bench (seen live in recycle_session)."""
    total = 0
    for r, _d, fl in os.walk(path):
        for f in fl:
            try:
                total += os.path.getsize(os.path.join(r, f))
            except OSError:
                pass
    return total


def vec_f32(v) -> list:
    """Collected vector cell -> python float list, for BOTH ivf
    layouts: list<float> (pre-r14 tables) and packed
    fixed_size_binary f32 (write_packed_index, r14+)."""
    if isinstance(v, (bytes, bytearray)):
        import numpy as np

        return [float(x) for x in np.frombuffer(v, "<f4")]
    return [float(x) for x in v]


def disk_probe(
    extras: dict, path: str, probe_bytes: int = 512 * 1024**2, prefix: str = ""
) -> float | None:
    """IO calibration sentinel (VERDICT r10 #1): TWO same-artifact
    bandwidth facts measured on ``path``'s own parquet bytes with plain
    python file IO over 16 parallel streams (the scan's split shape):

    - COLD device read (sync + posix_fadvise DONTNEED first): this
      host's backing store reads ~0.16 GiB/s cold (measured r11) — a
      truly cold 29 GB scan would take minutes, so the sub-4 s scans
      are page-CACHE-fed (125 GB RAM holds every fixture just written).
    - WARM cache re-read of the same regions: the bandwidth the scans
      actually ride. Cross-round drift in scan rows tracks THIS number
      (host CPU/memory contention), which is what the r9→r10 "+30%
      with idle CPU" episode needed for attribution.

    Stamped as ``disk2g_floor_sec`` / ``cache2g_floor_sec`` (seconds
    per 2 GiB at the measured rate — auto-collected into the compact
    line's floors{}) + ``disk_probe_gbps`` / ``cache_probe_gbps``.
    Returns the CACHE GiB/s, the calibrator the ``*_disk_ratio``
    fields divide by (None on failure — the sentinel must never cost a
    row, but a failure always stamps ``extras["probe_error"]`` with
    the reason: VERDICT r11 #2).

    ``prefix`` (r15, VERDICT r14 #1) stamps a PER-ROW re-probe under
    prefixed keys (e.g. ``c10m_disk2g_floor_sec``) so a row that runs
    minutes after the section probe — concept768_10m after
    knn768_10m's three 30 GB scans — carries the IO weather measured
    at ITS OWN start, not the section's."""
    try:
        files = sorted(
            os.path.join(r, f)
            for r, _d, fl in os.walk(path)
            for f in fl
            if f.endswith(".parquet")
        )
        # flush write-back first: probing right after a 30 GB fixture
        # write, a single cold read crawled at 0.1 GiB/s against the
        # flusher while the (cache-fed) scan ran 8+ GiB/s — measuring
        # the wrong thing twice (r11 run c)
        os.sync()
        regions = []
        left = probe_bytes
        for fp in files:
            if left <= 0:
                break
            # cap per-file so the probe spreads over ~16 streams even
            # when single part files exceed probe_bytes/16
            take = min(left, os.path.getsize(fp), probe_bytes // 16)
            fd = os.open(fp, os.O_RDONLY)
            try:
                os.posix_fadvise(fd, 0, take, os.POSIX_FADV_DONTNEED)
            finally:
                os.close(fd)
            regions.append((fp, take))
            left -= take
        read = probe_bytes - left
        if read < probe_bytes // 2:  # fixture smaller than the probe
            extras[f"{prefix}probe_error"] = (
                f"fixture smaller than probe ({read / 1024**2:.0f} MB "
                f"< {probe_bytes // 2 / 1024**2:.0f} MB at {path})"
            )
            print(f"  io probe: SKIPPED {extras[f'{prefix}probe_error']}", file=sys.stderr)
            return None

        def pull(region):
            fp, take = region
            got = 0
            with open(fp, "rb", buffering=0) as fh:
                while got < take:
                    chunk = fh.read(min(16 * 1024 * 1024, take - got))
                    if not chunk:
                        break
                    got += len(chunk)
            return got

        # parallel streams, like the scan's splits — a single stream
        # underreports a device 32 concurrent readers will saturate
        from concurrent.futures import ThreadPoolExecutor

        two_g = 2 * 1024**3
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=min(16, len(regions))) as pool:
            read = sum(pool.map(pull, regions))
        cold_sec = time.perf_counter() - t0
        cold_gbps = read / cold_sec / 1024**3
        extras[f"{prefix}disk2g_floor_sec"] = round(two_g / max(read / cold_sec, 1), 4)
        extras[f"{prefix}disk_probe_gbps"] = round(cold_gbps, 2)
        # warm pass over the same regions (now cached by the cold pass)
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=min(16, len(regions))) as pool:
            read_w = sum(pool.map(pull, regions))
        warm_sec = time.perf_counter() - t0
        cache_gbps = read_w / warm_sec / 1024**3
        extras[f"{prefix}cache2g_floor_sec"] = round(two_g / max(read_w / warm_sec, 1), 4)
        extras[f"{prefix}cache_probe_gbps"] = round(cache_gbps, 2)
        print(
            f"  io probe: cold {cold_gbps:.2f} GiB/s, cache {cache_gbps:.2f} GiB/s "
            f"({read/1024**3:.2f} GiB x2)",
            file=sys.stderr,
        )
        return cache_gbps
    except Exception as ex:  # noqa: BLE001
        # LOUD failure (VERDICT r11 #2): the r11 artifact shipped with
        # no disk/cache floors and no recorded reason because this
        # handler silently returned None — a probe may fail, but never
        # invisibly
        extras[f"{prefix}probe_error"] = f"{type(ex).__name__}: {ex}"[:300]
        print(f"  io probe: FAILED {extras[f'{prefix}probe_error']}", file=sys.stderr)
        return None


def synth_df(
    spark, n: int, dim: int, clustered: bool = False, start: int = 0,
    packed: bool = False,
):
    """Deterministic n x dim float32 vectors (FIXTURES.md §6
    ``laion_bench`` shape) as an UNMATERIALIZED DataFrame — numpy-backed
    mapInArrow (a per-column ``rand()`` expression tree would blow the
    64KB codegen limit at dim=768). Each element is a pure function of
    (id, element index) via a SplitMix64 counter hash, so a row's
    vector depends ONLY on its id — re-evaluation regenerates identical
    data under ANY partitioning, batch split, or row order (ADVICE r9:
    the old per-batch seeding made a row's vector depend on its
    position within a shuffled batch, so the IVF fit pass and the
    write_index pass could disagree).

    ``clustered=True`` plants a 256-center Gaussian-mixture structure
    (id mod 256 picks the center; noise via Box-Muller over counter
    uniforms). Uniform data is the ANN WORST case — true neighbors
    spread over clusters at random, so an IVF probe's recall collapses
    to ~nprobe/C (measured 0.1 here). Real CLIP embeddings are strongly
    clustered, which the mixture twin models; the brute-force tables
    stay uniform.

    ``packed=True`` emits the SAME float32 values as one little-endian
    packed BINARY blob per row instead of array<float> (r14): the JVM's
    Arrow→InternalRow materialization of 768-element lists taxes every
    crossing (~35%% on a bare count; a fresh-session 1M ivf build via
    the all-binary pipeline ran 90 s where the list/JVM-write path
    exceeded 900 s), and flat_matrix decodes the binary form
    everywhere downstream. Use for BUILD pipelines (assign→write);
    the brute-force BASELINE tables keep array<float> parity."""

    def gen(batches):
        # mapInArrow + flat ListArray build: near-memcpy, unlike the
        # pandas object-column path (~5k rows/s at dim=768)
        import numpy as np
        import pyarrow as pa

        GOLD = np.uint64(0x9E3779B97F4A7C15)
        M1 = np.uint64(0xBF58476D1CE4E5B9)
        M2 = np.uint64(0x94D049BB133111EB)

        def u01(ctr):
            # SplitMix64 avalanche of a (id*dim + j) counter -> [0, 1)
            z = ctr * GOLD
            z = (z ^ (z >> np.uint64(30))) * M1
            z = (z ^ (z >> np.uint64(27))) * M2
            z = z ^ (z >> np.uint64(31))
            return (z >> np.uint64(11)).astype(np.float64) * (2.0 ** -53)

        centers = (
            np.random.default_rng(123).random((256, dim), dtype=np.float32) * 2 - 1
            if clustered
            else None
        )
        half = dim // 2  # dim is even for every bench shape (768)
        #: sub-chunk rows per u01 chain (r14): the full-batch chain held
        #: ~4 live (10000 x 768) float64/uint64 temporaries (~61 MB
        #: each). On this sandbox, first-touch of freshly mapped memory
        #: costs 100-1100 us PER PAGE (hypervisor-backed lazy pages —
        #: see session._tune_worker_malloc), and 32 workers faulting
        #: ~300 MB each simultaneously collapse the host's fault path
        #: (~98%% system time). 2048-row sub-chunks cut each worker's
        #: faulted working set ~5x; values are a pure function of the
        #: (id, j) counter, so the output is bit-identical.
        SUB = 2048
        jarange = np.arange(dim, dtype=np.uint64)
        for rb in batches:
            ids = rb.column(0)
            m = len(ids)
            idv_all = ids.to_numpy().astype(np.uint64)
            out = np.empty((m, dim), dtype=np.float32)
            for lo in range(0, m, SUB):
                hi = min(lo + SUB, m)
                idv = idv_all[lo:hi]
                ctr = idv[:, None] * np.uint64(dim) + jarange
                u = u01(ctr)
                if clustered:
                    idx = np.asarray(idv).astype(np.int64) % 256
                    # Box-Muller on uniform pairs -> standard normal noise
                    r = np.sqrt(-2.0 * np.log(np.maximum(u[:, :half], 2.0 ** -53)))
                    th = (2.0 * np.pi) * u[:, half:]
                    noise = np.empty((hi - lo, dim), dtype=np.float32)
                    noise[:, 0::2] = (r * np.cos(th)).astype(np.float32)
                    noise[:, 1::2] = (r * np.sin(th)).astype(np.float32)
                    out[lo:hi] = centers[idx] + 0.3 * noise
                else:
                    out[lo:hi] = (u * 2.0 - 1.0).astype(np.float32)
            flat = out.ravel()
            if packed:
                data = np.ascontiguousarray(flat, dtype=np.float32)
                offs = np.arange(0, (m + 1) * 4 * dim, 4 * dim, dtype=np.int32)
                emb = pa.Array.from_buffers(
                    pa.binary(), m,
                    [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data.tobytes())],
                )
            else:
                offsets = pa.array(np.arange(0, (m + 1) * dim, dim, dtype=np.int32))
                emb = pa.ListArray.from_arrays(offsets, pa.array(flat, type=pa.float32()))
            yield pa.RecordBatch.from_arrays([ids, emb], ["id", "embedding"])

    # contiguous ranges, no shuffle: 64 write-side partitions without a
    # repartition stage (determinism no longer depends on partitioning).
    # `start` slices the id range for bounded-footprint sliced builds —
    # every element is a pure function of id, so slices are consistent.
    vt = "binary" if packed else "array<float>"
    return spark.range(start, n, 1, 64).mapInArrow(gen, f"id long, embedding {vt}")


def synth_vectors(spark, n: int, dim: int, clustered: bool = False):
    """``synth_df`` materialized once as parquet — the timed query then
    measures the honest path: columnar scan + JVM-side scoring, like
    the reference's warm server."""
    suffix = "_clustered" if clustered else ""
    path = f"/tmp/laion_bench_{n}x{dim}{suffix}.parquet"
    if not os.path.exists(f"{path}/_SUCCESS"):  # absent or partial write
        synth_df(spark, n, dim, clustered).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def synth_packed_base(spark, n: int, dim: int, path: str) -> None:
    """Packed-f32 brute-force base fixture (r14, guide §6): the same
    float32 values as ``synth_vectors`` but stored as one
    fixed_size_binary(4*dim) value per vector, written straight from
    the generator's python workers via the FLBA sink — no shuffle, no
    JVM row materialization, one file per generator partition (all
    under one ``ivf_cluster=0`` dir). 32 MB row groups: brute scans
    want fewer, larger (file, row_group) tasks than the 8 MB
    pruning-grain the ivf tables use. ``_DONE`` marks a complete build
    (the python sink writes no ``_SUCCESS``)."""
    if os.path.exists(f"{path}/_DONE"):
        return
    from laion_spark.sources.halfvec import _flba_sink, _staged_write

    gen = synth_df(spark, n, dim, packed=True).withColumn("ivf_cluster", F.lit(0))
    # overwrite: a partial build is removed — never mix generations
    with _staged_write(path, "overwrite") as staging:
        sink = _flba_sink(staging, 4 * dim, "embedding", 32 * 1024 * 1024)
        gen.mapInArrow(sink, "path string, rows long").collect()
    _done_flush(path)


# ---- /tmp fixture budget (VERDICT r8 #1) -----------------------------
#
# The bench accretes ~70+ GB of /tmp fixtures while this host's fs
# reserves ~160 GB for another uid (resv_strict), leaving ~80 GB of
# real budget — r8 hit 93% full, which ENOSPC-crashed contain4m and
# skipped the big-ANN gate a third round. Policy now:
#   - fixture_sweep() at bench start deletes bench-owned /tmp paths of
#     SUPERSEDED generations (anything matching our prefixes that the
#     current N_VEC/N_ANN/... parameters no longer name);
#   - ensure_free() before each big build evicts rebuildable fixtures
#     (cheapest-to-rebuild first) until the build fits;
#   - pure outputs (ETL sinks) and the f16 twins are deleted right
#     after their rows are measured — they are cheap streaming rewrites.
# Persisted across rounds: the ivf table + centroids (k-means fit +
# full shuffle, ~10 min) and the 10M brute-force base (~6 min), plus
# the small docs/events/etl-input fixtures.

_SWEEP_PREFIXES = ("laion_bench_", "laion_docs_", "laion_etl_", "laion_events_", "laion_star_")


def _rm(path: str) -> int:
    """Best-effort recursive delete; returns bytes freed."""
    import shutil

    try:
        n = du(path) if os.path.isdir(path) else os.path.getsize(path)
    except OSError:
        n = 0
    try:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)
    except OSError:
        return 0
    return n


#: full-scale persistent fixtures a SMOKE run (shrunken env knobs) must
#: never sweep: they cost minutes to rebuild and the real run's keep-set
#: wouldn't name them while the knobs are small. Disk pressure against
#: them is ensure_free's job (ordered eviction), not the sweep's.
_CANONICAL_KEEP = {
    f"/tmp/laion_bench_1000000x{DIM}.parquet",
    f"/tmp/laion_bench_10000000x{DIM}pf32.parquet",
    f"/tmp/laion_bench_8000000x{DIM}_ivf256rg8.parquet",
    f"/tmp/laion_bench_8000000x{DIM}_ivf256rg8_centroids.json",
}


def fixture_sweep(keep: set[str]) -> None:
    """Delete bench-owned /tmp entries not in ``keep`` (stale
    generations from earlier parameter choices — e.g. the 4M ANN set
    once N_ANN moved to 8M). Only touches our own prefixes."""
    freed = 0
    keep = keep | _CANONICAL_KEEP
    for name in os.listdir("/tmp"):
        p = f"/tmp/{name}"
        if any(name.startswith(pre) for pre in _SWEEP_PREFIXES) and p not in keep:
            freed += _rm(p)
    if freed:
        print(f"  fixture_sweep: freed {freed / 1024**3:.1f} GB", file=sys.stderr)


def _blockmgr_bytes() -> int:
    """Bytes held by Spark block-manager dirs in /tmp (shuffle files)."""
    return sum(
        du(f"/tmp/{n}")
        for n in os.listdir("/tmp")
        if n.startswith(("blockmgr-", "spark-"))
    )


def reclaim_shuffle(spark, label: str = "") -> int:
    """Best-effort in-session shuffle reclaim: System.gc() can let the
    ContextCleaner drop shuffle files whose ShuffleDependency became
    unreachable. Measured on this workload it usually frees ~nothing
    (something in the completed write jobs pins the dependency), so
    the REAL lever is ``recycle_session`` below — this stays as the
    cheap first attempt inside ensure_free. Returns bytes freed."""
    try:
        before = _blockmgr_bytes()
        if before < 2 * 1024**3:
            return 0
        spark.sparkContext._jvm.System.gc()
        for _ in range(5):
            time.sleep(1)
            if _blockmgr_bytes() < max(before * 0.2, 1024**3):
                break
        freed = before - _blockmgr_bytes()
        if freed > 0:
            print(
                f"  reclaim_shuffle[{label}]: freed {freed / 1024**3:.1f} GB "
                "of dead shuffle files",
                file=sys.stderr,
            )
        return freed
    except Exception:  # noqa: BLE001 — hygiene must never cost a row
        return 0


def recycle_session(spark, tag: str):
    """THE shuffle-file reclaim that actually works: in local mode,
    SparkContext.stop() shuts the DiskBlockManager down and deletes
    its /tmp/blockmgr-* local dirs (verified: the dead files go to 0),
    and a fresh context in the SAME JVM keeps the JIT warm. Needed
    because shuffle files of completed write jobs (the ivf/16M cluster
    exchanges move ~25-50 GB of incompressible vectors) are never
    reclaimed by the ContextCleaner in practice — r12's reordered
    suite accumulated 74 GB of dead shuffle files in one JVM and
    ENOSPC'd the 16M build even after ensure_free had evicted every
    fixture it was offered. Called between the heavy vector sections;
    callers must rebind: ``spark = recycle_session(spark, ...)`` (any
    DataFrame created before the recycle is dead — sections only share
    plain-python state: paths, qvec, centroids)."""
    before = _blockmgr_bytes()
    try:
        spark.stop()
        time.sleep(1)
    except Exception:  # noqa: BLE001
        pass

    def _fresh():
        s = get_session("laion_spark_bench")
        s.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        return s

    try:
        s2 = _fresh()
    except Exception as ex:  # noqa: BLE001
        # the old JVM can die outright (ENOSPC in a shuffle-write thread
        # trips Spark's uncaught-exception handler), leaving pyspark's
        # module-global gateway pointing at a dead socket — reset it and
        # launch a fresh JVM. MUST NOT RAISE either way: an unhandled
        # error here killed the whole r12 run before the JSON line (the
        # round-3 no-artifact failure mode).
        print(
            f"  recycle_session[{tag}]: gateway dead ({type(ex).__name__}); "
            "launching a fresh JVM",
            file=sys.stderr,
        )
        try:
            from pyspark import SparkContext
            from pyspark.sql import SparkSession as _SS

            try:
                SparkContext._gateway.shutdown()
            except Exception:  # noqa: BLE001
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
            SparkContext._active_spark_context = None
            _SS._instantiatedSession = None
            _SS._activeSession = None
            s2 = _fresh()
        except Exception as ex2:  # noqa: BLE001
            print(
                f"  recycle_session[{tag}]: fresh JVM failed too "
                f"({type(ex2).__name__}: {str(ex2)[:200]}); sections after "
                "this will record errors",
                file=sys.stderr,
            )
            return spark  # dead, but emit needs no session
    freed = before - _blockmgr_bytes()
    if freed > 1024**3:
        print(
            f"  recycle_session[{tag}]: reclaimed {freed / 1024**3:.1f} GB "
            "of shuffle files",
            file=sys.stderr,
        )
    return s2


def ensure_free(
    need_bytes: int, evict: list[str], label: str = "", spark=None
) -> bool:
    """True once /tmp has ``need_bytes`` free, first reclaiming dead
    shuffle files (when ``spark`` is given), then evicting the listed
    rebuildable fixtures (in order) as needed. False = still short
    after everything offered (caller records a skip)."""
    import shutil as _sh

    if _sh.disk_usage("/tmp").free < need_bytes and spark is not None:
        reclaim_shuffle(spark, label)
    free = _sh.disk_usage("/tmp").free
    if free < need_bytes:
        # reachability check BEFORE destroying anything (r14 run a: a
        # doomed twin build evicted the 3 GB etl fixture — a ~6 min
        # child rebuild under hostile IO — and then failed anyway,
        # 0.6 GB short)
        reachable = free + sum(du(p) for p in evict if os.path.exists(p))
        if reachable < need_bytes:
            print(
                f"  ensure_free[{label}]: unreachable "
                f"({reachable / 1024**3:.1f} GB reachable < "
                f"{need_bytes / 1024**3:.1f} GB need) — evicting nothing",
                file=sys.stderr,
            )
            return False
    for path in [None, *evict]:
        free = _sh.disk_usage("/tmp").free
        if free >= need_bytes:
            return True
        if path is not None and os.path.exists(path):
            freed = _rm(path)
            print(
                f"  ensure_free[{label}]: evicted {path} ({freed / 1024**3:.1f} GB)",
                file=sys.stderr,
            )
    return _sh.disk_usage("/tmp").free >= need_bytes


def disk_plan(extras: dict) -> None:
    """Suite-start disk budget plan (VERDICT r12 #1): inventory what is
    on /tmp, what each heavy section needs, and whether the plan FITS —
    stamped into the artifact so a downgrade or an eviction decision is
    visible, never silent. The structural fact it encodes: the 10M f32
    base (30 GB) and the 8M ivf table (24 GB) cannot coexist in the
    ~52 GB real /tmp budget, so whichever exists at round start, the
    OTHER section rebuilds after evicting it (the 10M family evicts the
    ivf table via its ensure_free last resort; the ANN build evicts the
    10M base via its own). Both rebuilds are bounded: base ~80 s
    generate+write, ivf ~sliced assign+write reusing kept centroids."""
    import shutil as _sh

    free = _sh.disk_usage("/tmp").free
    fixtures = {
        "ivf8m": IVF_PATH,
        "base10m": BASE10M_PATH,
        "base1m": f"/tmp/laion_bench_{N_VEC}x{DIM}.parquet",
        "docs": "/tmp/laion_docs_1m.parquet",
        "docs4m": "/tmp/laion_docs_4m.parquet",
        "docs10m": "/tmp/laion_docs_10m.parquet",
        "events": "/tmp/laion_events_10000000.parquet",
        "etl": f"/tmp/laion_etl_32x16384x{DIM}",
    }
    present = {k: du(p) for k, p in fixtures.items() if os.path.exists(p)}
    # per-section reachability from the EXACT evict lists the sections'
    # ensure_free calls use (ADVICE r13: the old sum-of-all-fixtures
    # counted base1m/docs1m, which no eviction path touches)
    ev_10m = sum(du(p) for p in EVICT_10M if os.path.exists(p))
    ev_ivf = sum(du(p) for p in EVICT_IVF if os.path.exists(p))
    need_10m = (
        0 if "base10m" in present else int(N_10M) * DIM * 4 * 12 // 10 + 2 * 1024**3
    )
    need_ivf = 0 if "ivf8m" in present else int(N_ANN) * DIM * 4 * 14 // 10
    plan = {
        "free_gb": round(free / 1024**3, 1),
        "evictable_10m_gb": round(ev_10m / 1024**3, 1),
        "evictable_ivf_gb": round(ev_ivf / 1024**3, 1),
        "present": {k: round(v / 1024**3, 1) for k, v in present.items()},
        "need_10m_gb": round(need_10m / 1024**3, 1),
        "need_ivf_gb": round(need_ivf / 1024**3, 1),
    }
    if need_10m and free + ev_10m < need_10m:
        plan["action"] = "short_for_10m"  # backstop; should be unreachable
    elif (
        "ivf8m" in present
        and need_10m
        and free + ev_10m - present["ivf8m"] < need_10m
    ):
        plan["action"] = "evict_ivf_for_10m"
    elif (
        "base10m" in present
        and need_ivf
        and free + ev_ivf - present["base10m"] < need_ivf
    ):
        plan["action"] = "evict_base10m_for_ivf"
    else:
        plan["action"] = "fits"
    extras["disk_plan"] = plan
    print(f"  disk_plan: {json.dumps(plan)}", file=sys.stderr)


# ---- shared fixture builders (main-JVM sentinels + child families) ----
# Cached in /tmp behind _SUCCESS/_DONE markers, so whoever builds first
# (the sentinel section, early, when budget surely exists) shares the
# bytes with the child JVMs that re-measure the same keys in isolation.


def ensure_docs(spark, n_docs: int):
    """N-document dedup fixture (1M/4M/10M decades share one recipe):
    the first n/5 ids are base texts (40 tokens from a 5k-word hash
    vocabulary), the next n/5 are near-dup variants of those bases (one
    appended token, Jaccard ~0.95) — n/5 true pairs — and the rest are
    unique."""
    base = n_docs // 5
    dpath = f"/tmp/laion_docs_{n_docs // 1_000_000}m.parquet"
    if not os.path.exists(f"{dpath}/_SUCCESS"):
        t0 = time.perf_counter()
        (
            spark.range(n_docs)
            .repartition(64)
            .selectExpr(
                "id AS doc_id",
                f"CASE WHEN id < {2 * base} THEN pmod(id, {base}) ELSE id END AS base_key",
            )
            .selectExpr(
                "doc_id",
                "concat_ws(' ', transform(sequence(1, 40), "
                " i -> concat('w', pmod(xxhash64(base_key, i), 5000)))) AS base",
            )
            .selectExpr(
                "doc_id",
                f"CASE WHEN doc_id >= {base} AND doc_id < {2 * base} "
                "THEN concat(base, ' x', pmod(doc_id, 97)) ELSE base END AS text",
            )
            .write.mode("overwrite")
            .parquet(dpath)
        )
        print(f"  docs{n_docs // 1_000_000}m build: {time.perf_counter()-t0:.1f}s", file=sys.stderr)
    return spark.read.parquet(dpath)


def ensure_events10m(spark) -> str:
    """10M-event / 1M-user stress fixture (funnel/session/topk/ks/
    streaming family input); returns the parquet path."""
    N_EV, N_USERS = 10_000_000, 1_000_000
    epath = f"/tmp/laion_events_{N_EV}.parquet"
    if not os.path.exists(f"{epath}/_SUCCESS"):
        t0 = time.perf_counter()
        types = F.array(*[F.lit(s) for s in ("view", "click", "purchase", "signup", "error")])
        (
            spark.range(N_EV)
            .repartition(64)
            .select(
                F.col("id").alias("event_id"),
                (F.lit(1_700_000_000_000_000) + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(30 * 86_400_000_000))).alias("ts_us"),
                F.pmod(F.xxhash64("id", F.lit(2)), F.lit(N_USERS)).alias("user_id"),
                F.element_at(types, (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5)) + 1).cast("int")).alias("event_type"),
                (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(1_000_000)) / 1000.0).alias("value"),
            )
            .write.mode("overwrite")
            .parquet(epath)
        )
        print(f"  events10m build: {time.perf_counter()-t0:.1f}s", file=sys.stderr)
    return epath


def ensure_etl_fixture() -> str:
    """32-shard x 16,384-row x 768-d ETL input set (metadata parquet +
    row-aligned .npy matrices, shard 13's text matrix missing to
    exercise S4 zero-fill); returns the input dir."""
    N_SHARDS, ROWS_PER_SHARD, ETL_DIM = 32, 16_384, DIM
    etl_in = f"/tmp/laion_etl_{N_SHARDS}x{ROWS_PER_SHARD}x{ETL_DIM}"
    if not os.path.exists(f"{etl_in}/_DONE"):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        for d in ("metadata", "img_emb", "text_emb"):
            os.makedirs(f"{etl_in}/{d}", exist_ok=True)
        for sid in range(N_SHARDS):
            rng = np.random.default_rng(1000 + sid)
            n = ROWS_PER_SHARD
            base = sid * n
            meta = pa.table(
                {
                    "key": [f"k{base + i:09d}" for i in range(n)],
                    "url": [f"https://example.com/{base + i}.jpg" for i in range(n)],
                    "caption": [f"caption {base + i} ’quoted‘ text" for i in range(n)],
                    "similarity": pa.array(rng.random(n)),
                    "width": pa.array(rng.integers(64, 2048, n)),
                    "height": pa.array(rng.integers(64, 2048, n)),
                    "original_width": pa.array(rng.integers(64, 4096, n)),
                    "original_height": pa.array(rng.integers(64, 4096, n)),
                    "status": ["success"] * n,
                    "nsfw": ["UNLIKELY"] * n,
                    "exif_json": ['{"Make": "m", "Model": "x"}'] * n,
                }
            )
            pq.write_table(meta, f"{etl_in}/metadata/metadata_{sid}.parquet")
            np.save(
                f"{etl_in}/img_emb/img_emb_{sid}.npy",
                rng.random((n, ETL_DIM), dtype=np.float32),
            )
            if sid != 13:  # one missing matrix exercises S4 zero-fill
                np.save(
                    f"{etl_in}/text_emb/text_emb_{sid}.npy",
                    rng.random((n, ETL_DIM), dtype=np.float32),
                )
        _done_flush(etl_in)
        print(f"  etl fixture build: {time.perf_counter()-t0:.1f}s", file=sys.stderr)
    return etl_in


def stream10m_once(spark, epath: str) -> None:
    """One full streaming replay of the 10M-event fixture through the
    watermarked tumbling-window aggregate into a noop sink (availableNow,
    fresh checkpoint => every run re-processes all 10M). ONE micro-batch
    on purpose: the fixture is hash-ordered, so a multi-batch replay
    would advance the watermark early and silently DROP later rows as
    late — the timing would measure late-row discarding, not the
    aggregate (the time-ordered multi-batch variant is stream10m_wm)."""
    import shutil
    import tempfile

    from laion_spark.streaming.windows import tumbling_counts

    schema = spark.read.parquet(epath).schema
    ck = tempfile.mkdtemp(prefix="laion_stream_ck_")
    try:
        src = (
            spark.readStream.schema(schema)
            .parquet(epath)
            .withColumn("ts_t", F.timestamp_micros("ts_us"))
        )
        q = (
            tumbling_counts(src, window="1 hour", watermark="30 minutes")
            .writeStream.format("noop")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # per-batch duration + state-store breakdown (VERDICT r14
        # next-round #4: prove in-artifact where the streaming floor
        # lives); overwritten every run, read after the timed loop
        try:
            prog = []
            for p in q.recentProgress:
                prog.append(p if isinstance(p, dict) else json.loads(p.json))
            stream10m_once.progress = prog
        except Exception:  # noqa: BLE001 — profiling only
            pass
    finally:
        shutil.rmtree(ck, ignore_errors=True)


#: wall-clock budget for the whole bench (seconds). A cold /tmp means
#: the vector sections rebuild ~25 GB of fixtures (~10 min); if the
#: harness running us enforces a hard timeout, dying mid-build would
#: emit NO summary line at all (the round-3 failure mode, different
#: cause). Sections check the budget before starting and record a
#: skipped marker instead — the JSON line always prints.
#: 2100 -> 2500 in r11: the budget was always self-imposed (no external
#: kill observed in 10 rounds; the longest successful run was 1980 s,
#: and the only rc!=0 artifact, r3, was a dtype crash, not a timeout).
#: 2500 -> 3600 in r13: the ~52 GB real /tmp budget cannot hold the 10M
#: base AND the 8M ivf table, so EVERY steady-state run now rebuilds
#: both (~80-110 s base + ~300-600 s sliced ivf from kept centroids —
#: the 10M family evicts the table, the ANN build evicts the base),
#: plus ~3 min of main-JVM family sentinels; section-cost arithmetic
#: puts the full suite at ~3300-3600 s under that ping-pong. The
#: incremental checkpoint lines (emit_checkpoint) mean even an
#: external kill can no longer erase completed rows, which is what
#: made the conservative budget load-bearing. Every section still
#: self-skips with a recorded marker.
#: 3600 -> 3400 in r14: the driver's r13 run came back rc 124 — its
#: external kill fires at ~3600 s, i.e. exactly our budget, so the
#: suite was guaranteed to die mid-child instead of exiting cleanly
#: (the dedup child was killed and apply_sentinel_fallbacks never
#: ran). 3400 leaves ~200 s for the last child to drain + JVM
#: shutdown + the final line. The r14 cost cuts fund it: the packed
#: ivf writer replaces the 300-600 s JVM list<float> rebuild, and the
#: big-pair ladder downgrades 32M->16M under pressure.
BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "3400"))
_T_START = time.perf_counter()


class _BudgetSkip(Exception):
    """Raised inside a bench section to skip it once the budget is
    spent; the skip marker is already recorded by over_budget."""


def over_budget(errors: dict, key: str) -> bool:
    spent = time.perf_counter() - _T_START
    if spent < BUDGET_S:
        return False
    errors[key] = f"skipped: bench budget exceeded ({spent:.0f}s > {BUDGET_S:.0f}s)"
    print(f"  {key}: SKIPPED over budget ({spent:.0f}s)", file=sys.stderr)
    return True


_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def managed_layout(spark, sf_dir: str, n_parts: int = 32) -> str:
    """One-time ingest of the star tables into engine-managed storage.

    The driver's testdata files each hold ONE parquet row group (e.g.
    lineitem sf0.1: 600k rows, 1 row group), and a row group is the
    unit of scan parallelism — so every scan + partial-agg stage runs
    single-threaded on a 32-core host regardless of split size
    (measured: TPC-H Q1 spends 1.8 s in a 3-task stage where 2 tasks
    are empty). A real deployment — and the reference, whose published
    numbers run against its own ingested MergeTree tables — controls
    its storage layout at load time. This mirrors that: tables above a
    row threshold are rewritten once into ``n_parts`` files (one row
    group each -> n_parts-way scan parallelism); small dims are
    rewritten as a single file. Cached across runs via _SUCCESS.
    """
    # cache key carries n_parts AND the newest mtime across ALL source
    # tables so a regenerated testdata fixture (any table, not just
    # lineitem — ADVICE r4) or a different layout can never silently
    # reuse a stale ingest under an unchanged path
    src_mtime = max(int(os.path.getmtime(f"{sf_dir}/{t}.parquet")) for t in _TABLES)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = f"/tmp/laion_star_sf{sf}_{n_parts}p_{src_mtime}"
    for name in _TABLES:
        dst = f"{out}/{name}.parquet"
        if os.path.exists(f"{dst}/_SUCCESS"):
            continue
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        n = df.count()
        parts = n_parts if n >= 50_000 else 1
        df.repartition(parts).write.mode("overwrite").parquet(dst)
    return out


def dedup_family(spark, queries: dict, extras: dict, errors: dict) -> None:
    """The document-dedup stress family (dedup1m, winnow1m, dedup4m).

    Run in its OWN JVM (child process, see main) — measured engine
    pathology (reproduced with pure built-ins, no laion_spark code,
    scripts/repro_collect_deopt.py): ONE sort_array(collect_list(
    struct)) aggregation with large per-group buffers (the funnel/
    sessionization shape) permanently degrades every later
    collect_set/collect_list aggregation ~4x JVM-wide (4.2 s -> 16.6 s
    on the winnow bucket agg; conf-independent, survives System.gc(),
    identical under SortAggregate — i.e. JIT profile pollution of the
    shared TypedImperativeAggregate paths, not spill or planning).
    Process isolation records each family's honest number regardless
    of suite order (r5 ran dedup first in-process, which protected
    dedup at d03's expense — 0.33 s -> 1.30 s). The cluster-scale
    analog: don't co-schedule funnel and dedup stages on the same
    long-lived executors.
    """
    N_DOCS = 1_000_000
    section_floor(spark, extras, "dedup")

    def ensure_docs1m():
        # shared builder (also warmed by the main-JVM sentinel section);
        # called lazily INSIDE this guarded section so a slow/failing
        # docs build can only skip the dedup rows, nothing else
        return ensure_docs(spark, N_DOCS)

    def dedup1m():
        from laion_spark.operators.dedup import minhash_lsh_pairs

        return (
            minhash_lsh_pairs(ensure_docs1m(), "doc_id", "text", num_hashes=32, bands=8, threshold=0.8)
            .count()
        )

    def winnow1m():
        # substring-overlap pair detection over the same 1M-doc
        # fixture: the planted variants share >= 30 of their ~37
        # distinct 5-token windows with their base, so min_shared=30
        # must find exactly the 200k planted pairs; max_df=8 caps
        # boilerplate-window fan-out (the corpus-scale guard)
        from laion_spark.operators.dedup import shared_window_pairs

        return shared_window_pairs(
            ensure_docs1m(), "doc_id", "text", window=5, min_shared=30, max_df=8
        ).count()

    found: dict[str, int] = {}

    def contain1m():
        # asymmetric containment over the same fixture: every variant
        # fully CONTAINS its base's 38 trigrams (C(base→variant)=1.0)
        # while the reverse direction is 38/39 < 0.999 — so exactly
        # the 200k planted pairs qualify, from the base side only.
        # expand_buckets shuffles the hashed-shingle stream ONCE into
        # per-shingle buckets (winnow1m's shape) instead of
        # self-joining it (19.3s strings -> 11.4s int64 join -> 7.3s
        # bucketed); max_df=8 is the same fan-out guard as winnow1m.
        from laion_spark.operators.dedup import containment_pairs

        n = containment_pairs(
            ensure_docs1m(), "doc_id", "text", ngram=3, threshold=0.999, max_df=8,
            hash_shingles=True, expand_buckets=True,
        ).count()
        found["contain1m"] = n
        return n

    for key, fn in (("dedup1m", dedup1m), ("winnow1m", winnow1m), ("contain1m", contain1m)):
        if over_budget(errors, key):
            continue
        try:
            fn()  # warm (includes lazy fixture build)
            ts = sorted(timed(fn) for _ in range(3))
            queries[key] = ts[1]
            extras[f"{key}_best_sec"] = ts[0]
            extras[f"{key}_rows_per_sec"] = round(N_DOCS / ts[0])
            print(f"  {key}: {ts}", file=sys.stderr)
        except Exception as ex:  # noqa: BLE001
            errors[key] = f"{type(ex).__name__}: {ex}"[:500]
            print(f"  {key}: FAILED {errors[key].splitlines()[0]}", file=sys.stderr)

    if "contain1m" in found:
        extras["contain1m_pairs"] = found["contain1m"]

    # Scale curve point: the same pipeline at 4M docs / 800k planted
    # pairs — linearity evidence beyond the 1M row (an LSH pipeline
    # that quietly superlinears would show here first). Budget-gated;
    # warm + best-of-2 to bound the cost.
    try:
        if LOW_CORE:
            errors["dedup4m"] = "skipped: low-core scaling subset (1M decade kept)"
            raise _BudgetSkip
        if over_budget(errors, "dedup4m") or time.perf_counter() - _T_START > BUDGET_S - 300:
            if "dedup4m" not in errors:
                errors["dedup4m"] = "skipped: < 300s of bench budget left"
                print("  dedup4m: SKIPPED (headroom)", file=sys.stderr)
            raise _BudgetSkip
        N_DOCS4 = 4_000_000
        docs4m = ensure_docs(spark, N_DOCS4)

        def dedup4m():
            from laion_spark.operators.dedup import minhash_lsh_pairs

            return minhash_lsh_pairs(
                docs4m, "doc_id", "text", num_hashes=32, bands=8, threshold=0.8
            ).count()

        n_pairs4 = dedup4m()  # warm
        ts4 = sorted(timed(dedup4m) for _ in range(2))
        # 2-run keys record best-of-2 in queries{} (stat_policy in
        # extras) so per-key semantics stay comparable (ADVICE r5)
        queries["dedup4m"] = ts4[0]
        extras["dedup4m_best_sec"] = ts4[0]
        extras["dedup4m_rows_per_sec"] = round(N_DOCS4 / ts4[0])
        extras["dedup4m_pairs"] = n_pairs4
        print(f"  dedup4m: {ts4} pairs={n_pairs4}", file=sys.stderr)
    except _BudgetSkip:
        pass
    except Exception as ex:  # noqa: BLE001
        errors["dedup4m"] = f"{type(ex).__name__}: {ex}"[:500]
        print(f"  dedup4m: FAILED {errors['dedup4m'].splitlines()[0]}", file=sys.stderr)

    # Third decade of the scale curve: 10M docs / 2M planted pairs —
    # 1M -> 4M -> 10M linearity is the measured basis for the 100 TB
    # extrapolation (VERDICT r6 #3). Gated on budget AND /tmp space
    # (fixture ~1.5 GB); warm + best-of-2 like dedup4m.
    try:
        import shutil as _sh

        if LOW_CORE:
            errors["dedup10m"] = "skipped: low-core scaling subset (1M decade kept)"
            raise _BudgetSkip
        if over_budget(errors, "dedup10m") or time.perf_counter() - _T_START > BUDGET_S - 420:
            if "dedup10m" not in errors:
                errors["dedup10m"] = "skipped: < 420s of bench budget left"
                print("  dedup10m: SKIPPED (headroom)", file=sys.stderr)
            raise _BudgetSkip
        N_DOCS10 = 10_000_000
        if not os.path.exists("/tmp/laion_docs_10m.parquet/_SUCCESS") and (
            _sh.disk_usage("/tmp").free < 3 * 1024**3
        ):
            errors["dedup10m"] = "skipped: < 3 GB free in /tmp for the 10M-doc fixture"
            print("  dedup10m: SKIPPED (disk)", file=sys.stderr)
            raise _BudgetSkip
        docs10m = ensure_docs(spark, N_DOCS10)

        def dedup10m():
            from laion_spark.operators.dedup import minhash_lsh_pairs

            return minhash_lsh_pairs(
                docs10m, "doc_id", "text", num_hashes=32, bands=8, threshold=0.8
            ).count()

        n_pairs10 = dedup10m()  # warm
        ts10d = sorted(timed(dedup10m) for _ in range(2))
        queries["dedup10m"] = ts10d[0]
        extras["dedup10m_best_sec"] = ts10d[0]
        extras["dedup10m_rows_per_sec"] = round(N_DOCS10 / ts10d[0])
        extras["dedup10m_pairs"] = n_pairs10
        print(f"  dedup10m: {ts10d} pairs={n_pairs10}", file=sys.stderr)
    except _BudgetSkip:
        pass
    except Exception as ex:  # noqa: BLE001
        errors["dedup10m"] = f"{type(ex).__name__}: {ex}"[:500]
        print(f"  dedup10m: FAILED {errors['dedup10m'].splitlines()[0]}", file=sys.stderr)

    # Containment at the 4M decade: the 4M fixture's planted variants
    # fully CONTAIN their base's trigrams (one variant per base), so
    # exactly the 800k base-side pairs qualify at threshold 0.999 —
    # extends contain1m one decade so the sub-document shape has the
    # same 1M->4M linearity evidence as the MinHash curve (VERDICT r6
    # #3 discipline). Runs after the dedup decades: lower priority.
    try:
        if LOW_CORE:
            errors["contain4m"] = "skipped: low-core scaling subset (1M decade kept)"
            raise _BudgetSkip
        if over_budget(errors, "contain4m") or time.perf_counter() - _T_START > BUDGET_S - 240:
            if "contain4m" not in errors:
                errors["contain4m"] = "skipped: < 240s of bench budget left"
                print("  contain4m: SKIPPED (headroom)", file=sys.stderr)
            raise _BudgetSkip
        if not os.path.exists("/tmp/laion_docs_4m.parquet/_SUCCESS"):
            errors["contain4m"] = "skipped: 4M fixture absent (dedup4m skipped)"
            raise _BudgetSkip
        from laion_spark.operators.dedup import containment_pairs

        docs4c = spark.read.parquet("/tmp/laion_docs_4m.parquet")

        def contain4m():
            return containment_pairs(
                docs4c, "doc_id", "text", ngram=3, threshold=0.999, max_df=8,
                hash_shingles=True, expand_buckets=True,
            ).count()

        n_c4 = contain4m()  # warm
        tsc4 = sorted(timed(contain4m) for _ in range(2))
        queries["contain4m"] = tsc4[0]
        extras["contain4m_best_sec"] = tsc4[0]
        extras["contain4m_rows_per_sec"] = round(4_000_000 / tsc4[0])
        extras["contain4m_pairs"] = n_c4
        print(f"  contain4m: {tsc4} pairs={n_c4}", file=sys.stderr)
    except _BudgetSkip:
        pass
    except Exception as ex:  # noqa: BLE001
        errors["contain4m"] = f"{type(ex).__name__}: {ex}"[:500]
        print(f"  contain4m: FAILED {errors['contain4m'].splitlines()[0]}", file=sys.stderr)


def family_sentinels(spark, extras: dict, errors: dict, sentinels: dict) -> None:
    """One representative row per child family, measured EARLY in the
    main JVM (VERDICT r12 #3): r12's tail/dedup child JVMs landed ZERO
    rows (IO contention + ENOSPC starved them at the end of the
    budget), leaving whole families without a frozen number two rounds
    running. These sentinels run right after the 1M knn headline —
    before any heavy section can wedge or starve the suite — and are
    used to FILL GAPS after the children report: a child's isolated
    number always wins (fresh-JVM isolation is the honest measurement,
    see dedup_family/tail_family docstrings); the sentinel only stands
    in when the child produced nothing, marked
    ``{key}_main_jvm_sentinel: 1`` in the artifact. Fixtures cache in
    /tmp, so the bytes built here are shared with the children."""
    section_floor(spark, extras, "sentinel")
    # measure under the SAME 4 MB split size the child JVMs use
    # (ADVICE r13: a sentinel-filled value measured at the parent's
    # 128 MB splits was not cross-round comparable with child-measured
    # rounds); restored by the caller's next section_floor/section or
    # explicitly below
    _prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))

    def _measure(key, fn, denom):
        if over_budget(errors, key):
            return
        try:
            fn()  # warm (includes the lazy fixture build)
            ts = sorted(timed(fn) for _ in range(2))
            sentinels[key] = {
                "sec": ts[0],
                "rows_per_sec": round(denom / ts[0]),
                "split_mb": 4,
            }
            errors.pop(key, None)
            print(f"  sentinel {key}: {ts}", file=sys.stderr)
        except Exception as ex:  # noqa: BLE001 — a sentinel must never
            # cost another row; the child family still gets its chance
            print(f"  sentinel {key}: FAILED {type(ex).__name__}: {str(ex)[:200]}",
                  file=sys.stderr)

    def _dedup1m():
        from laion_spark.operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(
            ensure_docs(spark, 1_000_000), "doc_id", "text",
            num_hashes=32, bands=8, threshold=0.8,
        ).count()

    _measure("dedup1m", _dedup1m, 1_000_000)

    def _stream10m():
        stream10m_once(spark, ensure_events10m(spark))

    _measure("stream10m", _stream10m, 10_000_000)

    def _etl_direct():
        from laion_spark.sources.npy import etl_shards_to_parquet

        etl_shards_to_parquet(
            spark, ensure_etl_fixture(), "/tmp/laion_etl_fact_direct.parquet", dim=DIM
        ).collect()

    _measure("etl_shards_direct", _etl_direct, 32 * 16_384)
    _rm("/tmp/laion_etl_fact_direct.parquet")  # pure output
    spark.conf.set("spark.sql.files.maxPartitionBytes", _prev_split)


def apply_sentinel_fallbacks(
    queries: dict, extras: dict, errors: dict, sentinels: dict, quiet: bool = False
) -> None:
    """After the child families report: fill any family key the
    children never produced from its main-JVM sentinel, with explicit
    provenance in the artifact. ``quiet`` suppresses the log line for
    the PROVISIONAL per-checkpoint fills (emit_checkpoint), which would
    otherwise print 'filled' before the children even ran."""
    for key, s in sentinels.items():
        if key not in queries:
            queries[key] = s["sec"]
            extras[f"{key}_best_sec"] = s["sec"]
            extras[f"{key}_rows_per_sec"] = s["rows_per_sec"]
            extras[f"{key}_main_jvm_sentinel"] = 1
            if "split_mb" in s:
                extras[f"{key}_sentinel_split_mb"] = s["split_mb"]
            errors.pop(key, None)
            if not quiet:
                print(f"  {key}: filled from main-JVM sentinel ({s['sec']}s)", file=sys.stderr)


def _run_family_isolated(
    flag: str,
    family_fn,
    label: str,
    queries: dict,
    extras: dict,
    errors: dict,
    cap: float,
) -> None:
    """Run a bench family in a child process (fresh JVM), merging its
    results; fall back to in-process on any child failure so the rows
    are never lost. Fixtures cache in /tmp so the child's build is
    shared with reruns. ``cap`` bounds the child's share of whatever
    budget remains (dedup: the 900s of r6 plus headroom for the
    dedup10m decade; tail: catalog + events + streaming + ETL, ~450s
    warm)."""
    import subprocess

    remaining = max(0.0, BUDGET_S - (time.perf_counter() - _T_START))
    child_budget = min(remaining, cap)
    if child_budget < 30:
        errors[label] = (
            f"skipped: < 30s of bench budget left for the {label} child"
        )
        print(f"  {label}: SKIPPED (budget)", file=sys.stderr)
        return
    env = dict(os.environ, SPARK_GRAFT_BENCH_BUDGET_S=str(child_budget))
    try:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), flag],
            capture_output=True,
            text=True,
            timeout=child_budget + 240,  # JVM startup + fixture-build headroom
            env=env,
        )
        sys.stderr.write(r.stderr[-4000:])
        payload = json.loads(r.stdout.strip().splitlines()[-1])
        queries.update(payload["queries"])
        extras.update(payload["extras"])
        errors.update(payload["errors"])
        extras[f"{label}_isolated_jvm"] = 1
        return
    except Exception as ex:  # noqa: BLE001
        print(
            f"  {label} child failed ({type(ex).__name__}: {str(ex)[:200]}); "
            "falling back to in-process",
            file=sys.stderr,
        )
    extras[f"{label}_isolated_jvm"] = 0
    spark = get_session("laion_spark_bench")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    family_fn(spark, queries, extras, errors)


def tail_family(spark, queries: dict, extras: dict, errors: dict) -> None:
    """Catalog headliners + 10M-event stress/streaming + shard ETL.

    Run in its OWN JVM (child process, see main): these families are
    sensitive to the allocator/GC/JIT state the vector sections' ~60 GB
    of Arrow scans leave behind (measured: etl_shards 8.7 s in a fresh
    JVM vs 32.7 s after the ann/f16/10M blocks — same code, same
    fixture). The vector sections now run FIRST so the BASELINE
    comparables can never be the rows a budget squeeze drops (VERDICT
    r11 #1); process isolation — not suite order — is what keeps these
    rows honest now.
    """
    # local-bench parallelism: testdata tables are single small files;
    # 128MB splits would give 1-3 tasks for a 25MB table. On a real
    # cluster the default (128MB ~ one row group) is correct.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))

    from laion_spark.catalog import REGISTRY

    # ingest once into engine-managed layout (row groups sized for
    # parallel scan), then run every headliner against it — the
    # reference's numbers are likewise measured on its own tables.
    # Guarded: a failed/slow ingest must degrade to benching the raw
    # testdata, never abort before the JSON summary (round-3 lesson)
    star_dir = SF_DIR
    try:
        if not over_budget(errors, "managed_layout"):
            t0 = time.perf_counter()
            star_dir = managed_layout(spark, SF_DIR)
            print(f"  managed_layout: {time.perf_counter()-t0:.1f}s -> {star_dir}", file=sys.stderr)
    except Exception as ex:  # noqa: BLE001
        errors["managed_layout"] = f"{type(ex).__name__}: {ex}"[:500]
        print(f"  managed_layout: FAILED {errors['managed_layout'].splitlines()[0]}", file=sys.stderr)

    # warm-up: JVM + parquet footers
    spark.read.parquet(f"{star_dir}/lineitem.parquet").count()

    section_floor(spark, extras, "catalog")
    for name in HEADLINERS:
        if over_budget(errors, name):
            continue
        try:
            spec = REGISTRY[name]
            spec.fn(spark, star_dir).collect()  # warm (codegen + cache)
            # best-of-2: neighbor CPU contention on this host spikes
            # individual runs 3-10x; a single sample regularly
            # misattributes that to the query
            queries[name] = min(
                timed(lambda: spec.fn(spark, star_dir).collect()) for _ in range(2)
            )
            print(f"  {name}: {queries[name]}s", file=sys.stderr)
        except Exception as ex:  # noqa: BLE001 — isolate, report, continue
            errors[name] = f"{type(ex).__name__}: {ex}"[:500]
            print(f"  {name}: FAILED {errors[name].splitlines()[0]}", file=sys.stderr)

    # This family runs in the tail child's FRESH JVM: after ~60 GB of
    # Arrow scans a shared JVM's allocator/GC state inflates HOF-heavy
    # pipelines ~2-3x (measured: winnow1m 4.8 s in a fresh session vs
    # 17 s after the ann/f16/10M blocks) — isolation records each
    # family's honest number.
    # Pipeline-operator stress: the LLM-data-pipeline operators at 10M
    # events / 1M users — two orders of magnitude over the sf0.1 star
    # schema. Their catalog entries prove CORRECTNESS at sf0.01; this
    # proves the PLANS (one user-key shuffle each, bounded state) hold
    # when the data no longer fits one task, and records rows/s.
    try:
        if over_budget(errors, "events10m"):
            raise _BudgetSkip
        from laion_spark.operators.funnel import window_funnel
        from laion_spark.operators.topk import topk_approx

        section_floor(spark, extras, "events10m")
        N_EV = 10_000_000
        epath = ensure_events10m(spark)
        ev10 = spark.read.parquet(epath)

        def funnel10m():
            return window_funnel(ev10, ["view", "click", "purchase"], 3_600_000_000).groupBy(
                "level"
            ).count().collect()

        def sessions10m():
            from pyspark.sql import Window as W

            w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
            wc = W.partitionBy("user_id").orderBy("ts_us").rowsBetween(W.unboundedPreceding, 0)
            g = ev10.withColumn(
                "is_new",
                F.when(
                    F.lag("ts_us").over(w).isNull()
                    | ((F.col("ts_us") - F.lag("ts_us").over(w)) > 30 * 60 * 1_000_000),
                    1,
                ).otherwise(0),
            ).withColumn("sid", F.sum("is_new").over(wc))
            return g.groupBy("user_id", "sid").count().groupBy().agg(
                F.count("*"), F.sum("count")
            ).collect()

        def topk10m():
            return topk_approx(ev10, "event_type", k=3).collect()

        def ks10m():
            # two-sample KS over ~4M rows / ~1M distinct values: the
            # global_prefix_sum machinery (quantile buckets + offset
            # broadcast, q99's plan) at 3 orders of magnitude over its
            # sf0.01 correctness check — ECDFs never pass through an
            # Exchange SinglePartition
            from laion_spark.operators.prefix import global_prefix_sum

            e = ev10.filter(F.col("event_type").isin("click", "view"))
            per_v = e.groupBy("value").agg(
                F.count(F.when(F.col("event_type") == "click", 1)).alias("c1"),
                F.count(F.when(F.col("event_type") == "view", 1)).alias("c2"),
            )
            # fused two-column prefix sum (r15): same values, one
            # quantile+totals+window pass instead of two chained calls
            # re-evaluating the groupBy lineage ~2 extra times (q99's
            # oracle-checked twin fused identically)
            r = global_prefix_sum(per_v, ["value"], ["c1", "c2"], ["f1", "f2"], exclusive=False)
            tot = per_v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
            return (
                r.crossJoin(F.broadcast(tot))
                .select(
                    F.abs(
                        F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")
                    ).alias("ds")
                )
                .agg(F.max("ds"))
                .collect()
            )

        def stream10m():
            # Structured-Streaming ingest throughput — the analog of the
            # reference's MergeTree ingest+MV path; see stream10m_once
            # (module level, shared with the main-JVM sentinel section)
            stream10m_once(spark, epath)

        def stream10m_wm(files_per_trigger: int = 16):
            # Watermark-advancing multi-batch replay — the honest
            # version of incremental ingest: a TIME-ORDERED copy of the
            # fixture (repartitionByRange(ts_us) -> path order == time
            # order) streamed N files per micro-batch, so each batch's
            # watermark finalizes old windows and evicts their state,
            # like a real day-long ingest. (On the hash-ordered fixture
            # this pattern would silently drop later rows as late.)
            # Default 16 files/trigger is the KNEE of the measured
            # curve (5.75 s @ 8 / 3.08 s @ 16 / 2.29 s @ 32 solo) and
            # is what queries{} reports (VERDICT r6 #4): the 8-file
            # point is per-batch fixed cost (planning + WAL + state
            # commit, r6 breakdown), amortized on any real cluster by
            # seconds-long triggers — headline-ing the worst point of
            # the curve misread the engine. The 8-file point stays in
            # extras as the curve's steep end.
            import shutil
            import tempfile

            from laion_spark.streaming.windows import tumbling_counts

            spath = "/tmp/laion_events_10000000_tsorted.parquet"
            if not os.path.exists(f"{spath}/_SUCCESS"):
                t0 = time.perf_counter()
                ev10.repartitionByRange(64, "ts_us").sortWithinPartitions("ts_us").write.mode(
                    "overwrite"
                ).parquet(spath)
                print(f"  tsorted build: {time.perf_counter()-t0:.1f}s", file=sys.stderr)
            ck = tempfile.mkdtemp(prefix="laion_stream_wm_ck_")
            try:
                src = (
                    spark.readStream.schema(ev10.schema)
                    .option("maxFilesPerTrigger", str(files_per_trigger))
                    .parquet(spath)
                    .withColumn("ts_t", F.timestamp_micros("ts_us"))
                )
                q = (
                    tumbling_counts(src, window="1 hour", watermark="30 minutes")
                    .writeStream.format("noop")
                    .option("checkpointLocation", ck)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                # per-batch duration breakdown (profiling the single-pass
                # vs multi-batch gap — VERDICT r5 #6); overwritten every
                # run, read once after the timed loop
                try:
                    prog = []
                    for p in q.recentProgress:
                        prog.append(p if isinstance(p, dict) else json.loads(p.json))
                    stream10m_wm.progress = prog
                except Exception:  # noqa: BLE001 — profiling only
                    pass
            finally:
                shutil.rmtree(ck, ignore_errors=True)

        stress = (
            ("funnel10m", funnel10m, N_EV),
            ("sessions10m", sessions10m, N_EV),
            ("topk10m", topk10m, N_EV),
            ("ks10m", ks10m, N_EV),
            ("stream10m", stream10m, N_EV),
            ("stream10m_wm", stream10m_wm, N_EV),
        )
        for key, fn, denom in stress:
            if over_budget(errors, key):
                continue
            try:  # per-key isolation: a stream10m sink/checkpoint error
                # must not erase the already-measured event benchmarks
                fn()  # warm
                # house policy: queries{} holds the MEDIAN, extras the best
                ts = sorted(timed(fn) for _ in range(3))
                queries[key] = ts[1]
                extras[f"{key}_best_sec"] = ts[0]
                extras[f"{key}_rows_per_sec"] = round(denom / ts[0])
                print(f"  {key}: {ts}", file=sys.stderr)
            except Exception as ex:  # noqa: BLE001
                errors[key] = f"{type(ex).__name__}: {ex}"[:500]
                print(f"  {key}: FAILED {errors[key].splitlines()[0]}", file=sys.stderr)

        # where the multi-batch gap lives: summed micro-batch durations
        # from the last stream10m_wm run. The single-pass vs multi-batch
        # delta is per-batch FIXED cost (query planning + offset/commit
        # WAL + state-store commit), amortized on a real cluster by
        # seconds-long triggers — the numbers make that claim auditable.
        for skey, sfn in (("stream10m_wm", stream10m_wm), ("stream10m", stream10m_once)):
            prog = getattr(sfn, "progress", None)
            if not prog:
                continue
            dm: dict[str, int] = {}
            st: dict[str, int] = {}
            for p in prog:
                for k2, v in (p.get("durationMs") or {}).items():
                    dm[k2] = dm.get(k2, 0) + int(v)
                # state-store operator metrics: the commit-bound claim's
                # direct evidence (VERDICT r14 next-round #4)
                for so in p.get("stateOperators") or []:
                    for k2 in ("allUpdatesTimeMs", "commitTimeMs", "allRemovalsTimeMs"):
                        if isinstance(so.get(k2), (int, float)):
                            st[k2] = st.get(k2, 0) + int(so[k2])
            extras[f"{skey}_batches"] = len(prog)
            for k2 in ("addBatch", "getBatch", "latestOffset", "walCommit",
                       "commitOffsets", "queryPlanning", "triggerExecution"):
                if k2 in dm:
                    extras[f"{skey}_{k2}_ms"] = dm[k2]
            for k2, v in st.items():
                extras[f"{skey}_state_{k2}"] = v
            print(f"  {skey} breakdown: {dm} state={st} over {len(prog)} batches",
                  file=sys.stderr)

        # trigger-sizing curve: the 8-files point (steep end — more
        # micro-batches, more per-batch fixed cost; headline is the
        # 16-file knee above; 32 ~ single-pass, RocksDB NOT the lever
        # at this state size, 6.1 s). Watermark advances either way.
        if "stream10m_wm" in queries and not over_budget(errors, "stream10m_wm8"):
            try:
                t8s = sorted(timed(lambda: stream10m_wm(8)) for _ in range(2))
                extras["stream10m_wm_trigger8_best_sec"] = t8s[0]
                print(f"  stream10m_wm trigger=8: {t8s}", file=sys.stderr)
            except Exception as ex:  # noqa: BLE001
                errors["stream10m_wm8"] = f"{type(ex).__name__}: {ex}"[:300]

        # stream10m_p8 (ADDED key, r15, VERDICT r14 #4): the same
        # availableNow replay with state/shuffle partitions sized to the
        # STATE (8) instead of the core count. The HDFS-backed state
        # store pays a per-partition-per-batch commit file; at ~3.6k
        # state rows, 32 partitions is pure commit overhead — measured
        # sum(commitTimeMs) 14.0 s @ 32 parts vs 0.78 s @ 8 parts, wall
        # 1.9-2.3 s vs 1.23-1.29 s solo — and it is WHY stream10m
        # anti-scales 8->32 cores (the 8-core run's default partitions
        # are already 8). On a cluster, partitions should track state
        # size, not cores; stream10m keeps the partitions=cores
        # methodology for round comparability, this row carries the
        # state-proportional number. Same computation, same batch count
        # (availableNow single pass), fresh checkpoint per run.
        if "stream10m" in queries and not over_budget(errors, "stream10m_p8"):
            old_parts = spark.conf.get("spark.sql.shuffle.partitions")
            try:
                spark.conf.set("spark.sql.shuffle.partitions", "8")
                # ADVICE r15 #1: drop the 32-partition run's progress, so
                # a failed extraction below records no commit time at all
                stream10m_once.progress = None
                stream10m()  # warm (state partitioning re-derives per fresh checkpoint)
                tp8 = sorted(timed(stream10m) for _ in range(3))
                queries["stream10m_p8"] = tp8[1]
                extras["stream10m_p8_best_sec"] = tp8[0]
                prog = getattr(stream10m_once, "progress", None) or []
                cms = sum(
                    int(so.get("commitTimeMs") or 0)
                    for p in prog
                    for so in (p.get("stateOperators") or [])
                )
                if cms:
                    extras["stream10m_p8_state_commitTimeMs"] = cms
                print(f"  stream10m_p8: {tp8}", file=sys.stderr)
            except Exception as ex:  # noqa: BLE001
                errors["stream10m_p8"] = f"{type(ex).__name__}: {ex}"[:300]
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    except _BudgetSkip:
        pass
    except Exception as ex:  # noqa: BLE001
        errors["events10m"] = f"{type(ex).__name__}: {ex}"[:500]
        print(f"  events10m: FAILED {errors['events10m'].splitlines()[0]}", file=sys.stderr)


    # ETL runs in the tail child's fresh JVM for the same reason the
    # stress family does: the generic JVM sink is sensitive to the
    # allocator/GC state the ~60 GB of Arrow scans leave behind
    # (measured: 8.7 s before the ann/f16 blocks vs 32.7 s after —
    # same fixture, same code; the in-task direct sink moves 4.1 s
    # -> 4.1 s, immune). Isolation records each family's honest
    # number.
    # Shard-ETL throughput (VERDICT r4 missing #4): the reference's
    # process.py is half its codebase (65,536-row batches, one shard
    # per mp.Pool task — process.py:22,115); x01 proves correctness at
    # 250 rows, this measures rows/s through the full positional-join
    # pipeline (metadata parquet + row-aligned .npy matrices -> curly-
    # quote cleanup -> exif JSON->map -> schema projection -> zstd
    # parquet sink) at 32 shards x 16,384 rows x 768-d (~3.2 GB of
    # embedding matrices). Shard-per-task, no shuffle anywhere.
    try:
        # needs ~4 min headroom (fixture build + 3 pipeline runs) — a
        # section started just under the wire would overshoot the
        # harness timeout, the round-3 no-JSON failure mode
        if over_budget(errors, "etl_shards") or time.perf_counter() - _T_START > BUDGET_S - 240:
            if "etl_shards" not in errors:
                errors["etl_shards"] = "skipped: < 240s of bench budget left"
                print("  etl_shards: SKIPPED (headroom)", file=sys.stderr)
            raise _BudgetSkip
        from laion_spark.sources.npy import etl_shards, write_fact_table

        section_floor(spark, extras, "etl")
        # one shard per task: 32 shards fill the 32-core host exactly
        N_SHARDS, ROWS_PER_SHARD, ETL_DIM = 32, 16_384, DIM
        etl_in = ensure_etl_fixture()

        etl_out = "/tmp/laion_etl_fact.parquet"

        def run_etl():
            write_fact_table(etl_shards(spark, etl_in, dim=ETL_DIM), etl_out)

        run_etl()  # warm (python workers + codegen)
        etl_ts = sorted(timed(run_etl) for _ in range(2))
        n_rows = N_SHARDS * ROWS_PER_SHARD
        # best-of-2, same policy as dedup4m (extras stat_policy note)
        queries["etl_shards"] = etl_ts[0]
        extras["etl_shards_best_sec"] = etl_ts[0]
        extras["etl_shards_rows_per_sec"] = round(n_rows / etl_ts[0])
        extras["etl_shards_count"] = N_SHARDS
        extras["etl_shards_rows"] = n_rows
        print(f"  etl_shards: {etl_ts} ({extras['etl_shards_rows_per_sec']} rows/s)", file=sys.stderr)

        # Direct sink (full process.py parity — each task writes its own
        # shard file, wide columns never become JVM rows; measured ~2.7x
        # the generic-sink throughput, same output bytes)
        from laion_spark.sources.npy import etl_shards_to_parquet

        etl_out_d = "/tmp/laion_etl_fact_direct.parquet"

        def run_etl_direct():
            etl_shards_to_parquet(spark, etl_in, etl_out_d, dim=ETL_DIM).collect()

        run_etl_direct()  # warm
        etd = sorted(timed(run_etl_direct) for _ in range(2))
        queries["etl_shards_direct"] = etd[0]  # best-of-2 (stat_policy)
        extras["etl_shards_direct_rows_per_sec"] = round(n_rows / etd[0])
        print(
            f"  etl_shards_direct: {etd} ({extras['etl_shards_direct_rows_per_sec']} rows/s)",
            file=sys.stderr,
        )
        # the fact tables are pure outputs (every timed run rewrites
        # them) — 5+ GB of /tmp budget the vector sections need back
        _rm(etl_out)
        _rm(etl_out_d)
    except _BudgetSkip:
        pass
    except Exception as ex:  # noqa: BLE001
        errors["etl_shards"] = f"{type(ex).__name__}: {ex}"[:500]
        print(f"  etl_shards: FAILED {errors['etl_shards'].splitlines()[0]}", file=sys.stderr)

    # layout flag for the compact line (the parent pops it into the
    # top-level field)
    extras["layout"] = "managed32" if star_dir != SF_DIR else "raw"


#: transient bytes a child JVM may evict to make room for its own
#: fixtures (stale twins/outputs the parent's vector sections leave
#: behind; the 10M base is last — its rows are measured by child time
#: and it rebuilds in ~80 s)
_CHILD_EVICT = [
    f"/tmp/laion_bench_{N_ANN}x{DIM}_ivf256rg8_f16p.parquet",
    f"/tmp/laion_bench_{N_ANN}x{DIM}_ivf256rg8_i8.parquet",
    "/tmp/laion_etl_fact.parquet",
    "/tmp/laion_etl_fact_direct.parquet",
    f"/tmp/laion_bench_{N_VEC}x{DIM}_f16p.parquet",
    f"/tmp/laion_bench_{N_VEC}x{DIM}_i8.parquet",
    BASE10M_PATH,
]


def main() -> None:
    if "--dedup-family" in sys.argv:
        # child mode: pristine JVM, family only, one JSON line out.
        # Own disk check first (VERDICT r12 #3): the r12 children
        # starved on a /tmp the parent's failed sections had filled.
        spark = get_session("laion_spark_bench_dedup")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        q: dict[str, float] = {}
        x: dict[str, float | int] = {}
        e: dict[str, str] = {}
        if not ensure_free(8 * 1024**3, _CHILD_EVICT, "dedup_child", spark=spark):
            e["dedup_family"] = "skipped: < 8 GB free in /tmp for the dedup child"
        else:
            dedup_family(spark, q, x, e)
        print(json.dumps({"queries": q, "extras": x, "errors": e}))
        return

    if "--tail-family" in sys.argv:
        # child mode: pristine JVM for the catalog/events/streaming/ETL
        # tail (tail_family sets its own split size); own disk check
        # like the dedup child
        spark = get_session("laion_spark_bench_tail")
        q2: dict[str, float] = {}
        x2: dict[str, float | int] = {}
        e2: dict[str, str] = {}
        if not ensure_free(8 * 1024**3, _CHILD_EVICT, "tail_child", spark=spark):
            e2["tail_family"] = "skipped: < 8 GB free in /tmp for the tail child"
        else:
            tail_family(spark, q2, x2, e2)
        print(json.dumps({"queries": q2, "extras": x2, "errors": e2}))
        return

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    queries: dict[str, float] = {}
    extras: dict[str, float | int] = {}
    #: per-query failures — a red query yields an errors entry, never a
    #: dead bench (round-3 lesson: one broken warm-up zeroed BENCH_r03)
    errors: dict[str, str] = {}
    #: main-JVM per-family representative timings (fallbacks if the
    #: child JVMs starve — VERDICT r12 #3)
    sentinels: dict[str, dict] = {}

    # reclaim superseded fixture generations BEFORE anything runs (the
    # dedup child sees the freed disk too). 256/8 mirror the ANN
    # section's C/RG_MB constants.
    fixture_sweep(
        {
            f"/tmp/laion_bench_{N_VEC}x{DIM}.parquet",
            f"/tmp/laion_bench_{N_VEC}x{DIM}_f16p.parquet",
            f"/tmp/laion_bench_{N_VEC}x{DIM}_i8.parquet",
            BASE10M_PATH,
            f"/tmp/laion_bench_{N_10M}x{DIM}_f16p.parquet",
            f"/tmp/laion_bench_{N_10M}x{DIM}_i8.parquet",
            f"/tmp/laion_bench_{N_ANN}x{DIM}_ivf256rg8.parquet",
            f"/tmp/laion_bench_{N_ANN}x{DIM}_ivf256rg8_centroids.json",
            "/tmp/laion_docs_1m.parquet",
            "/tmp/laion_docs_4m.parquet",
            "/tmp/laion_docs_10m.parquet",
            "/tmp/laion_events_10000000.parquet",
            "/tmp/laion_events_10000000_tsorted.parquet",
            f"/tmp/laion_etl_32x16384x{DIM}",
        }
    )

    spark = get_session("laion_spark_bench")
    # the parent JVM runs only the vector sections: synthetic tables are
    # 3-30 GB, so default-sized 128MB splits are right (the 4MB
    # small-table override lives with the catalog family in the tail
    # child)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))

    # suite-start disk budget plan (VERDICT r12 #1) — stamped before
    # anything heavy runs, so the artifact records what was on disk and
    # which eviction path the run was GOING to take even if it dies
    try:
        disk_plan(extras)
    except Exception as dpex:  # noqa: BLE001 — planning must not cost a row
        print(f"  disk_plan: FAILED {type(dpex).__name__}: {dpex}", file=sys.stderr)

    if LOW_CORE:
        # self-describing artifact: the scaling run's subset policy and
        # the core count that triggered it
        extras["low_core_subset"] = 1
        extras["bench_cpus"] = _bench_cpus()
        print(
            f"  LOW-CORE scaling subset active (cpus={_bench_cpus()}):"
            " 10M family / 8M ANN / big pair / 4M+10M dedup decades skipped",
            file=sys.stderr,
        )

    # BASELINE-comparable anchor shapes: brute-force L2 top-10 over
    # N_VEC x 768; qvec is the shared out-of-distribution pattern query
    qvec = [round(((j * 13) % 17 - 8) / 8.0, 6) for j in range(DIM)]
    bench_path = f"/tmp/laion_bench_{N_VEC}x{DIM}.parquet"

    # suite-start IO probe (VERDICT r11 #1/#2): stamped FIRST, on the 1M
    # fixture's own bytes, so the artifact always carries disk2g/cache2g
    # floors (or a recorded probe_error) no matter which sections later
    # skip. The 10M section re-probes on the 29 GB it actually scans.
    try:
        t0 = time.perf_counter()
        synth_vectors(spark, N_VEC, DIM)
        print(f"  synth_vectors({N_VEC}x{DIM}): {time.perf_counter()-t0:.1f}s", file=sys.stderr)
        disk_probe(extras, bench_path)
    except Exception as ex:  # noqa: BLE001
        extras.setdefault("probe_error", f"{type(ex).__name__}: {ex}"[:300])
        print(f"  io probe: FAILED {extras['probe_error']}", file=sys.stderr)

    # pure-CPU contention sentinel (VERDICT r11 #8): a fixed JVM-side
    # hash+sum over 2e8 longs — no IO, no Python workers, whole-stage
    # codegen. Cross-round drift HERE isolates host CPU contention from
    # the IO contention the disk/cache floors attribute.
    try:
        def _cpu_job():
            # bit_xor, not sum: the ANSI session raises on the int64
            # overflow a 2e8-term hash sum is guaranteed to hit
            spark.range(0, 200_000_000, 1, 32).select(
                F.expr("bit_xor(xxhash64(id))")
            ).collect()

        _cpu_job()  # warm (codegen compile)
        extras["cpu2e8_floor_sec"] = min(timed(_cpu_job) for _ in range(3))
        print(f"  cpu floor: {extras['cpu2e8_floor_sec']}s", file=sys.stderr)
    except Exception as ex:  # noqa: BLE001
        print(f"  cpu floor: FAILED {type(ex).__name__}: {ex}", file=sys.stderr)

    # hypervisor fault-latency sentinel (r14) — stamped with the other
    # suite-start floors so every row's cross-round drift is
    # attributable to host memory weather from the artifact alone
    fault_floor(extras)

    try:
        if over_budget(errors, "knn768"):
            raise _BudgetSkip
        section_floor(spark, extras, "vector")
        t0 = time.perf_counter()
        synth_vectors(spark, N_VEC, DIM)  # the bench_path fixture
        print(f"  synth_vectors({N_VEC}x{DIM}): {time.perf_counter()-t0:.1f}s", file=sys.stderr)

        def run_knn():
            return knn_search_parquet(
                spark, bench_path, qvec, k=10, vector_col="embedding", select=["id"]
            ).collect()

        # 5 runs: median recorded in queries{}, best + best-run rows/s as
        # separate fields. Wall times on this host swing 5-30x under
        # neighbor CPU contention; best-of-N is the contention-resistant
        # throughput bound, the median the honest typical case.
        run_knn()  # warm (python workers)
        ts = sorted(timed(run_knn) for _ in range(5))
        queries["knn768"] = ts[2]
        extras["knn768_best_sec"] = ts[0]
        extras["knn768_rows_per_sec"] = round(N_VEC / ts[0])
        print(f"  knn768: {ts}", file=sys.stderr)

        # packed-f32 layout A/B at 1M (r14, guide §6): the SAME float32
        # values as knn768's list<float> base in the FSB layout the 10M
        # family now defaults to — the in-artifact evidence for that
        # switch (knn768 stays the list-layout row). Parity-checked
        # against the list scan, then the 3 GB twin is removed.
        try:
            t0 = time.perf_counter()
            synth_packed_base(spark, N_VEC, DIM, BASE1M_PK_PATH)
            print(f"  synth_packed_base({N_VEC}x{DIM}): {time.perf_counter()-t0:.1f}s",
                  file=sys.stderr)

            def run_knn_pk():
                return knn_search_parquet(
                    spark, BASE1M_PK_PATH, qvec, k=10, vector_col="embedding", select=["id"]
                ).collect()

            pk_rows = [(r.id, r.score) for r in run_knn_pk()]  # warm
            list_rows = [(r.id, r.score) for r in run_knn()]
            extras["knn768_pk_parity"] = int(pk_rows == list_rows)
            tsp = sorted(timed(run_knn_pk) for _ in range(5))
            queries["knn768_pk"] = tsp[2]
            extras["knn768_pk_best_sec"] = tsp[0]
            extras["knn768_pk_rows_per_sec"] = round(N_VEC / tsp[0])
            print(
                f"  knn768_pk: {tsp} parity={extras['knn768_pk_parity']}",
                file=sys.stderr,
            )
        except Exception as pex:  # noqa: BLE001 — A/B row, never the family
            errors["knn768_pk"] = f"{type(pex).__name__}: {pex}"[:500]
            print(f"  knn768_pk: FAILED {errors['knn768_pk'].splitlines()[0]}", file=sys.stderr)
        finally:
            _rm(BASE1M_PK_PATH)
    except _BudgetSkip:
        pass
    except Exception as ex:  # noqa: BLE001
        errors["knn768"] = f"{type(ex).__name__}: {ex}"[:500]
        print(f"  knn768: FAILED {errors['knn768'].splitlines()[0]}", file=sys.stderr)

    emit_checkpoint(queries, extras, errors, sf_val, "knn768")

    # one representative row per child family, while the budget surely
    # exists (VERDICT r12 #3 — the children landed ZERO rows in r12);
    # fills gaps after the children report, never overrides them
    family_sentinels(spark, extras, errors, sentinels)
    emit_checkpoint(queries, extras, errors, sf_val, "sentinels", sentinels=sentinels)

    # 10M-row soak (VERDICT r4 missing #3): one measured point at the
    # reference's OWN published brute-force scale (BASELINE.md rows:
    # 10M x 768 in 3.747-10.272 s server-side) — turns the "linear in
    # rows x dim" claim into data. ~30 GB fixture: gated on free disk
    # as well as the wall-clock budget.
    try:
        if os.environ.get("SPARK_GRAFT_BENCH_SKIP_10M"):
            errors["knn768_10m"] = "skipped: SPARK_GRAFT_BENCH_SKIP_10M set (smoke run)"
            print("  knn768_10m: SKIPPED (env)", file=sys.stderr)
            raise _BudgetSkip
        if LOW_CORE:
            errors["knn768_10m"] = (
                f"skipped: low-core scaling subset (cpus={_bench_cpus()}"
                f" <= {LOW_CORE_CPUS}; big builds skipped)"
            )
            print("  knn768_10m: SKIPPED (low-core subset)", file=sys.stderr)
            raise _BudgetSkip
        path_10m = BASE10M_PATH
        # cold fixture build is ~80 s of generation + 30 GB write since
        # the r10 counter-hash generator (the old 5-8 min estimate kept
        # a stale 600 s gate that skipped the WHOLE 10M section in the
        # r11 all-cold run); the full cold section is ~420 s worst case
        head = 420 if not os.path.exists(f"{path_10m}/_DONE") else 120
        if over_budget(errors, "knn768_10m") or time.perf_counter() - _T_START > BUDGET_S - head:
            if "knn768_10m" not in errors:
                errors["knn768_10m"] = f"skipped: < {head}s of bench budget left"
                print("  knn768_10m: SKIPPED (headroom)", file=sys.stderr)
            raise _BudgetSkip
        # scale with N_10M (raw f32 bytes x 1.2 write margin): the old
        # hardcoded 36 GB mis-skipped env-shrunken smoke runs
        need = (
            int(N_10M) * DIM * 4 * 12 // 10 + 2 * 1024**3
            if not os.path.exists(f"{path_10m}/_DONE")
            else 2 * 1024**3
        )
        # eviction order: leftover transient twins first, then the
        # tail/dedup-family fixtures — those families run AFTER this
        # section in their own child JVMs and rebuild lazily (~30-60s
        # each), so early eviction is safe. LAST resort: the persisted
        # 8M ivf table — it cannot coexist with the 30 GB base on the
        # ~52 GB real /tmp budget (the r11/r12 10M-family killer), and
        # it rebuilds from its kept centroids in the ANN section. The
        # 10M BASELINE rows outrank a cached index.
        # ivf BEFORE the small family fixtures: its 24 GB almost always
        # satisfies the need by itself, and evicting etl/docs first was
        # pure churn — the sentinel section had just built them and the
        # child JVMs would rebuild them again (a 3.3 GB etl build costs
        # ~6 min under hostile IO weather, measured r13)
        if not ensure_free(
            need,
            EVICT_10M,
            "knn768_10m",
            spark=spark,
        ):
            errors["knn768_10m"] = "skipped: insufficient /tmp space for 30 GB fixture"
            print("  knn768_10m: SKIPPED (disk)", file=sys.stderr)
            raise _BudgetSkip
        t0 = time.perf_counter()
        synth_packed_base(spark, N_10M, DIM, path_10m)
        print(f"  synth_packed_base({N_10M}x{DIM}): {time.perf_counter()-t0:.1f}s", file=sys.stderr)
        # in-artifact disk calibration, measured on the very bytes the
        # 10M scans read (VERDICT r10 #1)
        probe_gbps = disk_probe(extras, path_10m)

        def run_10m():
            return knn_search_parquet(
                spark, path_10m, qvec, k=10, vector_col="embedding", select=["id"]
            ).collect()

        truth_10m = {r.id for r in run_10m()}  # warm (page cache will NOT
        # hold 30 GB — this is a disk-bound scan, closest in spirit to the
        # reference's NVMe runs); the ids double as the i8 row's recall truth
        ts10 = sorted(timed(run_10m) for _ in range(3))
        queries["knn768_10m"] = ts10[1]
        extras["knn768_10m_best_sec"] = ts10[0]
        extras["knn768_10m_rows_per_sec"] = round(N_10M / ts10[0])
        if probe_gbps:
            # wall-clock as a multiple of the pure cache-feed time for
            # the row's bytes at the probe's measured warm bandwidth:
            # ~1 = IO-feed-bound; stable across host-contention drift
            # even when absolutes move (the scans are cache-fed on this
            # host — see disk_probe)
            extras["knn768_10m_disk_ratio"] = round(
                ts10[0] / (du(path_10m) / 1024**3 / probe_gbps), 2
            )
        print(f"  knn768_10m: {ts10}", file=sys.stderr)

        # warm-pass row (VERDICT r13 ask #2 / r14 next-round #1b): two
        # more back-to-back reps AFTER the cold-methodology trio — by
        # now the OS page cache holds as much of the 29 GB as this host
        # will ever hold, so this row is the cache-fed bound the 2x
        # contract compares against under healthy IO. The cold row
        # above keeps its exact r4-r14 methodology; this is an ADDED
        # key (driver contract: additive only). best-of-2 (2-run key,
        # stat_policy).
        try:
            tw10 = sorted(timed(run_10m) for _ in range(2))
            queries["knn768_10m_warm"] = tw10[0]
            extras["knn768_10m_warm_best_sec"] = tw10[0]
            if probe_gbps:
                extras["knn768_10m_warm_disk_ratio"] = round(
                    tw10[0] / (du(path_10m) / 1024**3 / probe_gbps), 2
                )
            print(f"  knn768_10m_warm: {tw10}", file=sys.stderr)
        except Exception as wex:  # noqa: BLE001 — added row, never the family
            errors["knn768_10m_warm"] = f"{type(wex).__name__}: {wex}"[:300]
            print(f"  knn768_10m_warm: FAILED {errors['knn768_10m_warm']}", file=sys.stderr)

        # concept math at the reference's OWN published scale: BASELINE
        # row 4 is `(Cubism + Surrealism) / 2` over laion_10m in
        # 8.837 s — this is the direct same-row-count comparison (the
        # 1M concept768 row is the scaled one). Constant folding makes
        # it one brute-force scan, so the target is "equals knn768_10m".
        # Own failure domain + own headroom gate: 4 more 30 GB scans
        # must neither relabel a completed knn768_10m nor start so late
        # that the harness timeout kills the JSON line.
        try:
            if time.perf_counter() - _T_START > BUDGET_S - 120:
                errors["concept768_10m"] = "skipped: < 120s of bench budget left"
                print("  concept768_10m: SKIPPED (headroom)", file=sys.stderr)
                raise _BudgetSkip
            from laion_spark.functions.encoder import HashEncoder
            from laion_spark.plans.concept import eval_concept

            cvec10 = eval_concept("(cubism + surrealism) / 2", HashEncoder(DIM))

            # per-row IO attribution (VERDICT r14 next-round #1a): this
            # row starts after ~5 full 30 GB scans of the same fixture
            # with no bandwidth fact of its own — the r14 driver run's
            # 9.31 s vs knn768_10m's 7.88 s was unattributable. Re-probe
            # the very bytes it reads, stamped under c10m_* keys.
            c10_gbps = disk_probe(extras, path_10m, prefix="c10m_") or probe_gbps

            def run_c10m():
                return knn_search_parquet(
                    spark, path_10m, cvec10, k=10, vector_col="embedding", select=["id"]
                ).collect()

            run_c10m()
            tc10 = sorted(timed(run_c10m) for _ in range(3))
            queries["concept768_10m"] = tc10[1]
            extras["concept768_10m_best_sec"] = tc10[0]
            if c10_gbps:
                extras["concept768_10m_disk_ratio"] = round(
                    tc10[0] / (du(path_10m) / 1024**3 / c10_gbps), 2
                )
            print(f"  concept768_10m: {tc10} (reference laion_10m: 8.837s)", file=sys.stderr)
        except _BudgetSkip:
            pass
        except Exception as cex:  # noqa: BLE001
            errors["concept768_10m"] = f"{type(cex).__name__}: {cex}"[:500]
            print(f"  concept768_10m: FAILED {errors['concept768_10m'].splitlines()[0]}", file=sys.stderr)

        try:
            # packed twin at 10M — the layout that actually converts
            # halved bytes into halved scan time (list<f16> is FLBA(2)
            # per-value decode-bound; see halfvec.write_half_table)
            if time.perf_counter() - _T_START > BUDGET_S - 240:
                errors["knn768_f16p_10m"] = "skipped: < 240s of bench budget left"
                print("  knn768_f16p_10m: SKIPPED (headroom)", file=sys.stderr)
                raise _BudgetSkip
            packed_10m = f"/tmp/laion_bench_{N_10M}x{DIM}_f16p.parquet"
            if not os.path.exists(f"{packed_10m}/_DONE"):
                if not ensure_free(
                    N_10M * DIM * 2 + 2 * 1024**3,
                    [f"/tmp/laion_bench_{N_VEC}x{DIM}_f16p.parquet",
                     f"/tmp/laion_bench_{N_VEC}x{DIM}_i8.parquet",
                     # the 1M base: measured back in the headline
                     # section, rebuilds in ~20 s for the ladder —
                     # cheaper than losing this twin's row (r14 run a:
                     # lost to a 0.6 GB shortfall on a first-run round
                     # where the family fixtures did not exist yet)
                     f"/tmp/laion_bench_{N_VEC}x{DIM}.parquet",
                     f"/tmp/laion_etl_32x16384x{DIM}",
                     "/tmp/laion_events_10000000_tsorted.parquet",
                     "/tmp/laion_docs_4m.parquet",
                     "/tmp/laion_docs_10m.parquet",
                     IVF_PATH],
                    "f16p 10m twin",
                    spark=spark,
                ):
                    errors["knn768_f16p_10m"] = "skipped: insufficient /tmp for the 15 GB twin"
                    print("  knn768_f16p_10m: SKIPPED (disk)", file=sys.stderr)
                    raise _BudgetSkip
                from laion_spark.sources.halfvec import write_half_table

                t0 = time.perf_counter()
                write_half_table(
                    spark, path_10m, packed_10m, vector_cols=("embedding",)
                ).collect()
                _done_flush(packed_10m)
                print(f"  f16p 10m rewrite: {time.perf_counter()-t0:.1f}s", file=sys.stderr)

            # per-row probe on the twin's OWN bytes (VERDICT r14 #1a):
            # the section probe is minutes old by now; falls back to it
            # if the re-probe fails so the ratio is never silently lost
            f16p_gbps = disk_probe(extras, packed_10m, prefix="f16p10m_") or probe_gbps

            def run_f16p_10m():
                return knn_search_parquet(
                    spark, packed_10m, qvec, k=10, vector_col="embedding", select=["id"]
                ).collect()

            run_f16p_10m()  # warm
            tsp10 = sorted(timed(run_f16p_10m) for _ in range(3))
            queries["knn768_f16p_10m"] = tsp10[1]
            extras["knn768_f16p_10m_best_sec"] = tsp10[0]
            extras["knn768_f16p_10m_rows_per_sec"] = round(N_10M / tsp10[0])
            extras["knn768_f16p_10m_bytes_fraction"] = round(du(packed_10m) / du(path_10m), 4)
            if f16p_gbps:
                extras["knn768_f16p_10m_disk_ratio"] = round(
                    tsp10[0] / (du(packed_10m) / 1024**3 / f16p_gbps), 2
                )
            print(
                f"  knn768_f16p_10m: {tsp10} bytes_frac="
                f"{extras['knn768_f16p_10m_bytes_fraction']} (reference bf16 scale-eq: ~1.7s)",
                file=sys.stderr,
            )
            _rm(packed_10m)  # transient, like the list twin
        except _BudgetSkip:
            pass
        except Exception as pex_:  # noqa: BLE001
            errors["knn768_f16p_10m"] = f"{type(pex_).__name__}: {pex_}"[:500]
            print(f"  knn768_f16p_10m: FAILED {errors['knn768_f16p_10m'].splitlines()[0]}", file=sys.stderr)

        # SQ8 at 10M: 1/4 of the f32 bytes (7.5 GB twin), recall judged
        # against the f32 scan's own top-10 from this session
        try:
            if time.perf_counter() - _T_START > BUDGET_S - 180:
                errors["knn768_i8_10m"] = "skipped: < 180s of bench budget left"
                print("  knn768_i8_10m: SKIPPED (headroom)", file=sys.stderr)
                raise _BudgetSkip
            i8_10m = f"/tmp/laion_bench_{N_10M}x{DIM}_i8.parquet"
            if not os.path.exists(f"{i8_10m}/_DONE"):
                if not ensure_free(
                    N_10M * DIM + 2 * 1024**3,
                    [f"/tmp/laion_bench_{N_VEC}x{DIM}.parquet",
                     f"/tmp/laion_etl_32x16384x{DIM}",
                     "/tmp/laion_events_10000000_tsorted.parquet",
                     "/tmp/laion_docs_4m.parquet",
                     "/tmp/laion_docs_10m.parquet",
                     IVF_PATH],
                    "i8 10m twin",
                    spark=spark,
                ):
                    errors["knn768_i8_10m"] = "skipped: insufficient /tmp for the 8 GB twin"
                    print("  knn768_i8_10m: SKIPPED (disk)", file=sys.stderr)
                    raise _BudgetSkip
                from laion_spark.sources.halfvec import write_int8_table

                t0 = time.perf_counter()
                write_int8_table(spark, path_10m, i8_10m, vector_cols=("embedding",)).collect()
                _done_flush(i8_10m)
                print(f"  i8 10m rewrite: {time.perf_counter()-t0:.1f}s", file=sys.stderr)

            # per-row probe on the twin's own bytes (VERDICT r14 #1a)
            i8_gbps = disk_probe(extras, i8_10m, prefix="i810m_") or probe_gbps

            def run_i8_10m():
                return knn_search_parquet(
                    spark, i8_10m, qvec, k=10, vector_col="embedding", select=["id"],
                    scale_col="embedding_scale",
                ).collect()

            i8_ids_10m = {r.id for r in run_i8_10m()}  # warm + recall
            extras["knn768_i8_10m_recall_at_10"] = round(len(truth_10m & i8_ids_10m) / 10, 2)
            tsi10 = sorted(timed(run_i8_10m) for _ in range(3))
            queries["knn768_i8_10m"] = tsi10[1]
            extras["knn768_i8_10m_best_sec"] = tsi10[0]
            extras["knn768_i8_10m_rows_per_sec"] = round(N_10M / tsi10[0])
            extras["knn768_i8_10m_bytes_fraction"] = round(du(i8_10m) / du(path_10m), 4)
            if i8_gbps:
                extras["knn768_i8_10m_disk_ratio"] = round(
                    tsi10[0] / (du(i8_10m) / 1024**3 / i8_gbps), 2
                )
            print(
                f"  knn768_i8_10m: {tsi10} recall={extras['knn768_i8_10m_recall_at_10']} "
                f"bytes_frac={extras['knn768_i8_10m_bytes_fraction']}",
                file=sys.stderr,
            )
            _rm(i8_10m)  # transient, like the f16 twins
        except _BudgetSkip:
            pass
        except Exception as iex_:  # noqa: BLE001
            errors["knn768_i8_10m"] = f"{type(iex_).__name__}: {iex_}"[:500]
            print(f"  knn768_i8_10m: FAILED {errors['knn768_i8_10m'].splitlines()[0]}", file=sys.stderr)
    except _BudgetSkip:
        pass
    except Exception as ex:  # noqa: BLE001
        errors["knn768_10m"] = f"{type(ex).__name__}: {ex}"[:500]
        print(f"  knn768_10m: FAILED {errors['knn768_10m'].splitlines()[0]}", file=sys.stderr)

    emit_checkpoint(queries, extras, errors, sf_val, "10m_family", sentinels=sentinels)

    # drop the 10M section's dead shuffle files before the ANN builds
    # (recycle_session docstring has the full story)
    spark = recycle_session(spark, "post_10m")

    # ANN twin (BASELINE's Annoy row: 8.5x over brute force at 100M
    # rows): a clustered copy of the table (real CLIP embeddings are
    # strongly clustered; uniform data is the ANN worst case — recall
    # ~nprobe/C ~= 0.1, measured) written partitionBy(ivf_cluster); the
    # probe runs the same scan scorer over only the probed partition
    # dirs. ann768_exact is brute force on the SAME table, so
    # ann768_speedup is the BASELINE-ratio analog; recall@10 reported.
    # Concept-math headline (BASELINE rows 4-5: `(Cubism+Surrealism)/2`
    # at 10M rows, 8.8 s): parse + constant-fold the expression to one
    # query vector driver-side (hash encoder — embedding generation is
    # <<query time in every published run), then the same brute-force
    # scan. Proves the reference's concept pipeline shape at bench
    # scale; cost == one extra knn768-style query.
    try:
        if over_budget(errors, "concept768"):
            raise _BudgetSkip
        from laion_spark.functions.encoder import HashEncoder
        from laion_spark.plans.concept import eval_concept

        cvec = eval_concept("(cubism + surrealism) / 2", HashEncoder(DIM))

        def run_concept():
            return knn_search_parquet(
                spark, bench_path, cvec, k=10, vector_col="embedding", select=["id"]
            ).collect()

        run_concept()  # warm
        ts = sorted(timed(run_concept) for _ in range(3))
        queries["concept768"] = ts[1]
        extras["concept768_best_sec"] = ts[0]
        print(f"  concept768: {ts}", file=sys.stderr)
    except _BudgetSkip:
        pass
    except Exception as ex:  # noqa: BLE001
        errors["concept768"] = f"{type(ex).__name__}: {ex}"[:500]
        print(f"  concept768: FAILED {errors['concept768'].splitlines()[0]}", file=sys.stderr)

    # V10 half-width storage twin (the reference's bfloat16 table row):
    # same 1M x 768 data with the vector column stored as packed
    # FLOAT16 (fixed_size_binary(2*dim), bulk-memcpy decode) — half the
    # scan bytes; only the Arrow scan path can read it (Spark's JVM
    # reader rejects FLOAT16 parquet).
    try:
        if over_budget(errors, "knn768_f16p"):
            raise _BudgetSkip
        from laion_spark.sources.halfvec import write_half_table

        packed_path = f"/tmp/laion_bench_{N_VEC}x{DIM}_f16p.parquet"
        if not os.path.exists(f"{packed_path}/_DONE"):
            t0 = time.perf_counter()
            write_half_table(spark, bench_path, packed_path, vector_cols=("embedding",)).collect()
            _done_flush(packed_path)
            print(f"  f16 packed rewrite: {time.perf_counter()-t0:.1f}s", file=sys.stderr)

        def run_f16p():
            return knn_search_parquet(
                spark, packed_path, qvec, k=10, vector_col="embedding", select=["id"]
            ).collect()

        run_f16p()  # warm
        tsp = sorted(timed(run_f16p) for _ in range(5))
        queries["knn768_f16p"] = tsp[2]
        extras["knn768_f16p_best_sec"] = tsp[0]
        extras["knn768_f16p_rows_per_sec"] = round(N_VEC / tsp[0])
        extras["knn768_f16p_bytes_fraction"] = round(du(packed_path) / du(bench_path), 4)
        print(f"  knn768_f16p: {tsp} bytes_frac={extras['knn768_f16p_bytes_fraction']}", file=sys.stderr)
    except _BudgetSkip:
        pass
    except Exception as ex:  # noqa: BLE001
        errors["knn768_f16p"] = f"{type(ex).__name__}: {ex}"[:500]
        print(f"  knn768_f16p: FAILED {errors['knn768_f16p'].splitlines()[0]}", file=sys.stderr)

    # SQ8 twin: packed int8 codes + per-vector float32 scale — 1/4 of
    # the f32 bytes, dequantized batch-wise in the scorer
    try:
        if over_budget(errors, "knn768_i8"):
            raise _BudgetSkip
        from laion_spark.sources.halfvec import write_int8_table

        i8_path = f"/tmp/laion_bench_{N_VEC}x{DIM}_i8.parquet"
        if not os.path.exists(f"{i8_path}/_DONE"):
            t0 = time.perf_counter()
            write_int8_table(spark, bench_path, i8_path, vector_cols=("embedding",)).collect()
            _done_flush(i8_path)
            print(f"  i8 rewrite: {time.perf_counter()-t0:.1f}s", file=sys.stderr)

        def run_i8():
            return knn_search_parquet(
                spark, i8_path, qvec, k=10, vector_col="embedding", select=["id"],
                scale_col="embedding_scale",
            ).collect()

        truth_1m = {r.id for r in run_knn()}
        i8_ids = {r.id for r in run_i8()}  # doubles as the warm run
        extras["knn768_i8_recall_at_10"] = round(len(truth_1m & i8_ids) / 10, 2)
        tsi = sorted(timed(run_i8) for _ in range(5))
        queries["knn768_i8"] = tsi[2]
        extras["knn768_i8_best_sec"] = tsi[0]
        extras["knn768_i8_rows_per_sec"] = round(N_VEC / tsi[0])
        extras["knn768_i8_bytes_fraction"] = round(du(i8_path) / du(bench_path), 4)
        print(
            f"  knn768_i8: {tsi} recall={extras['knn768_i8_recall_at_10']} "
            f"bytes_frac={extras['knn768_i8_bytes_fraction']}",
            file=sys.stderr,
        )
    except _BudgetSkip:
        pass
    except Exception as ex:  # noqa: BLE001
        errors["knn768_i8"] = f"{type(ex).__name__}: {ex}"[:500]
        print(f"  knn768_i8: FAILED {errors['knn768_i8'].splitlines()[0]}", file=sys.stderr)

    emit_checkpoint(queries, extras, errors, sf_val, "1m_ladder", sentinels=sentinels)

    try:
        if over_budget(errors, "ann768"):
            raise _BudgetSkip
        if LOW_CORE:
            errors["ann768"] = (
                f"skipped: low-core scaling subset (cpus={_bench_cpus()}"
                f" <= {LOW_CORE_CPUS}; 24 GB ivf build skipped)"
            )
            print("  ann768: SKIPPED (low-core subset)", file=sys.stderr)
            raise _BudgetSkip
        from laion_spark.operators.similarity import IVFIndex

        # C=256 matches the fixture's 256-center generative structure;
        # with IN-DISTRIBUTION queries (below) recall@10 is 1.0 even at
        # nprobe=2 (measured; clusters are well separated, and cluster
        # sizes are skewed so nominal nprobe/C understates the bytes).
        # Row groups are the probe's parallelism grain: the scan scorer
        # splits per (file, row_group) and each cluster is ONE ~47 MB
        # file, so at the old 32 MB grain an nprobe=8 probe yielded only
        # ~16 splits — half the 32 cores idle. 8 MB row groups give the
        # probe ~6 splits per probed file (24-48 tasks), and a probe's
        # wall-clock is decode-bound at full width.
        C, NPROBE, RG_MB = 256, 4, 8
        ivf_path, cent_path = IVF_PATH, IVF_CENT  # C/RG_MB are baked into the names
        idx = IVFIndex(dim=DIM, n_clusters=C, n_iters=4, nprobe=NPROBE)
        # _SUCCESS = pre-r14 JVM list<float> build; _DONE = r14+ packed
        # build (python sink writes no _SUCCESS) — either is warm
        if os.path.exists(cent_path) and (
            os.path.exists(f"{ivf_path}/_SUCCESS") or os.path.exists(f"{ivf_path}/_DONE")
        ):
            idx.centroids = json.load(open(cent_path))
        else:
            # the clustered base is never materialized: synth_df's
            # deterministic generator feeds fit (bounded sample, cached)
            # and then write_packed_index's single assign→repartition→write
            # pass directly, so the build's footprint is the shuffle +
            # the ivf table (2x) instead of 3x with a base parquet.
            raw = int(N_ANN) * DIM * 4
            if not ensure_free(
                int(raw * 1.4),  # final table + working margin (slices bound the rest)
                # EVICT_IVF: f16 twin, then the 10M base (measured by
                # now, rebuilds in ~80 s, usually satisfies the need
                # alone), then the child-family fixtures last
                EVICT_IVF,
                "ivf build",
                spark=spark,
            ):
                errors["ann768"] = (
                    f"skipped: ivf build needs ~{raw * 1.4 / 1024**3:.0f} GB free in /tmp"
                )
                print("  ann768: SKIPPED (disk)", file=sys.stderr)
                raise _BudgetSkip
            t0 = time.perf_counter()
            gen_df = synth_df(spark, N_ANN, DIM, clustered=True)
            if os.path.exists(cent_path):
                # the table was evicted (normally: the 10M family's
                # last-resort eviction) but the quantizer survives —
                # reuse it and skip the ~90 s fit; the generator is
                # deterministic so the centroids still match the data
                idx.centroids = json.load(open(cent_path))
                print("  ivf build: reusing persisted centroids (table was evicted)",
                      file=sys.stderr)
            else:
                idx.fit(gen_df, id_col="id", vector_col="embedding", fit_rows=200_000)
            # sliced write: one pass's transient bytes (cluster shuffle +
            # sort spill, ~2.2x its raw input) ENOSPC'd the r11 cold
            # build even though the final table fit — the peak, not the
            # steady state, is the constraint. Bound it: write disjoint
            # id ranges in N appending passes sized to the free space
            # actually left after eviction (each element is a pure
            # function of id, so slices regenerate consistently).
            import shutil as _sh2

            headroom = _sh2.disk_usage("/tmp").free - raw - 3 * 1024**3
            n_slices = max(1, -(-int(raw * 2.2) // max(headroom, 6 * 1024**3)))
            per = -(-int(N_ANN) // n_slices)
            from laion_spark.sources.halfvec import write_packed_index

            for sl in range(n_slices):
                lo_id, hi_id = sl * per, min((sl + 1) * per, int(N_ANN))
                # packed f32 writer (r14): same float32 values as the
                # old JVM list<float> write, but the wide bytes go
                # straight from the python workers to FLBA parquet —
                # the JVM's row-by-row list assembly dominated the
                # 300-600 s rebuilds of r11-r13
                write_packed_index(
                    idx.build(
                        # packed generation: the JVM never materializes
                        # a 768-element list anywhere in the build
                        synth_df(spark, hi_id, DIM, clustered=True,
                                 start=lo_id, packed=True),
                        "embedding",
                    ),
                    ivf_path, dim=DIM, vector_col="embedding",
                    row_group_bytes=RG_MB * 1024 * 1024,
                    mode="overwrite" if sl == 0 else "append",
                )
                # each slice's cluster exchange leaves its full shuffle
                # (~raw/n_slices x 2.2) DEAD in /tmp/blockmgr-* — the
                # accumulation across slices is what ENOSPC'd the r12
                # cold build (and retroactively explains r11's). The
                # slice boundary shares only python state, so recycle.
                if sl + 1 < n_slices:
                    spark = recycle_session(spark, f"ivf slice {sl + 1}/{n_slices}")
            json.dump(idx.centroids, open(cent_path, "w"))
            # completeness marker (the python sink writes no _SUCCESS);
            # written AFTER the last slice so a crash mid-build leaves
            # no marker and the next run rebuilds from slice 0
            _done_flush(ivf_path)
            idx._scan_cache = None  # table just (re)written
            # in-artifact build cost; also the big pair's measured-rate
            # headroom input (same-weather ~24.6 GB packed write)
            extras["ivf_build_sec"] = round(time.perf_counter() - t0, 1)
            print(
                f"  ivf build: {extras['ivf_build_sec']}s ({n_slices} slice(s))",
                file=sys.stderr,
            )
        # queries, recall ground truth, and brute-force timing all read
        # the ivf table itself — literally the SAME table both sides
        vecs_c = spark.read.parquet(ivf_path)

        # IN-DISTRIBUTION queries: the ANN use case is "find items
        # similar to THIS item" — the reference queries a CLIP table
        # with CLIP embeddings of real images, i.e. vectors from the
        # same distribution as the corpus. A fixed synthetic pattern
        # vector is out-of-distribution: its true top-k are
        # lucky-noise points scattered uniformly over clusters, so
        # measured recall collapses as N grows (0.9 at 1M -> 0.3 at
        # 4M) while saying nothing about the index. Query with corpus
        # rows (fixed ids, seeded generation => deterministic).
        # derived from N_ANN (not hardcoded) so SPARK_GRAFT_BENCH_ANN_ROWS
        # can shrink the fixture without emptying the id filter
        q_ids = sorted({int(N_ANN * f) for f in (0.123457, 0.7777, 0.9991)})
        # the batch section's 8 queries join the recall sample: nprobe
        # tuning below should see 11 points, not 3
        b_ids = sorted({int(N_ANN * f) for f in
                        (0.0123, 0.111, 0.234567, 0.3456, 0.5001, 0.678, 0.8642, 0.95)})
        all_ids = sorted(set(q_ids) | set(b_ids))
        all_rows = {r.id: vec_f32(r.embedding)
                    for r in vecs_c.filter(F.col("id").isin(all_ids)).collect()}
        q_rows = {i: all_rows[i] for i in q_ids}
        b_rows = {i: all_rows[i] for i in b_ids}
        aq = q_rows[q_ids[0]]

        def exact_with(v):
            return knn_search_parquet(spark, ivf_path, v, k=10, vector_col="embedding", select=["id"]).collect()

        # exact top-10 for EVERY sample query, computed once (recall
        # truth for the single-probe, batch, and f16 sections)
        exact_sets = {qid: {r.id for r in exact_with(all_rows[qid])} for qid in all_ids}

        def ann_with(v, np_=None):
            # cached scan plan (scan_plans): listing + footer reads paid
            # once per index, not per probe — the serving-loop shape
            return idx.search_parquet(
                spark, ivf_path, v, k=10, vector_col="embedding", select=["id"], nprobe=np_
            ).collect()

        # recall-targeted nprobe (how ANN indexes are tuned in practice:
        # smallest probe width meeting the recall target on a query
        # sample — here all 11 in-distribution sample queries). The
        # selected width is recorded; the timing below uses it.
        ann_nprobe, recall = NPROBE, 0.0
        for np_try in (2, 3, NPROBE):
            hits = sum(
                len(exact_sets[qid] & {r.id for r in ann_with(all_rows[qid], np_try)})
                for qid in all_ids
            )
            recall = hits / (10 * len(all_ids))
            if recall >= 0.95 or np_try == NPROBE:
                ann_nprobe = np_try
                break
        extras["ann768_recall_at_10"] = round(recall, 3)
        extras["ann768_nprobe"] = ann_nprobe

        # local-mode job floor: a no-op 32-task mapInArrow round-trip —
        # the irreducible per-probe framework cost this host charges ANY
        # Python-stage job; documents how much of the probe wall-clock
        # is dispatch, not scan (the part a cluster scheduler amortizes).
        # Measured ADJACENT to the headline probe timing, and re-stamped
        # per storage-twin row below (VERDICT r14 next-round #2: the
        # probe family drifted up two rounds running with no per-row
        # floor to attribute it — the r14 driver's ann768 med 0.65 s sat
        # on a 0.54 s job floor).
        def _noop_job():
            def _f(batches):
                yield from batches
            spark.range(0, 32, 1, 32).mapInArrow(_f, "id long").collect()
        _noop_job()
        extras["ann768_job_floor_sec"] = min(timed(_noop_job) for _ in range(3))

        # timing on the first query (everything warm from the recall
        # pass). ann768_speedup is BEST/BEST — the same
        # contention-resistant policy as knn768's best-of-N rows/s:
        # this host shows 2-5x wall-clock swings under neighbor CPU
        # load (an exact scan measured [2.9, 4.3, 6.4, 14.4] s in one
        # session), and a median/median ratio of two noisy
        # distributions measures the neighbors, not the index. The
        # median/median ratio is kept as ann768_speedup_median.
        ets = sorted(timed(lambda: exact_with(aq)) for _ in range(5))
        queries["ann768_exact"] = ets[2]
        ts = sorted(timed(lambda: ann_with(aq, ann_nprobe)) for _ in range(5))
        queries["ann768"] = ts[2]
        extras["ann768_best_sec"] = ts[0]
        extras["ann768_exact_best_sec"] = ets[0]
        extras["ann768_speedup"] = round(ets[0] / ts[0], 2)
        extras["ann768_speedup_median"] = round(ets[2] / ts[2], 2)
        # the scale-honest signal: the fraction of table bytes a probe
        # actually reads, MEASURED over the probed partition dirs
        # (cluster sizes are skewed, so nominal nprobe/C would flatter
        # it) and AVERAGED over the 11 sample queries (a single query's
        # probed clusters can be unrepresentatively small). On a
        # cluster this fraction bounds the speedup.
        tot_bytes = du(ivf_path)
        fracs = []
        for qid in all_ids:
            probed = sum(
                du(f"{ivf_path}/ivf_cluster={p}")
                for p in idx.probe_clusters(all_rows[qid], ann_nprobe)
                if os.path.isdir(f"{ivf_path}/ivf_cluster={p}")
            )
            fracs.append(probed / tot_bytes)
        extras["ann768_bytes_fraction"] = round(sum(fracs) / len(fracs), 4)
        print(
            f"  ann768: {ts} recall={extras['ann768_recall_at_10']} nprobe={ann_nprobe} "
            f"speedup={extras['ann768_speedup']} bytes_frac={extras['ann768_bytes_fraction']} "
            f"floor={extras['ann768_job_floor_sec']}",
            file=sys.stderr,
        )

        # recall-vs-nprobe sweep at the standing scale (VERDICT r9 #3):
        # recall over all 11 in-distribution sample queries + timing on
        # the headline query per width — the accuracy/latency trade-off
        # curve a user tunes against, in the artifact machine-readably.
        try:
            sweep: dict[str, list] = {}
            for np_try in (1, 3, 6):
                hits = sum(
                    len(exact_sets[qid] & {r.id for r in ann_with(all_rows[qid], np_try)})
                    for qid in all_ids
                )
                tnp = sorted(timed(lambda: ann_with(aq, np_try)) for _ in range(3))
                sweep[str(np_try)] = [round(hits / (10 * len(all_ids)), 3), tnp[1]]
            extras["ann768_nprobe_sweep"] = sweep
            print(f"  ann768 nprobe sweep: {sweep}", file=sys.stderr)
        except Exception as swex:  # noqa: BLE001 — sweep must not cost the headline
            errors["ann768_nprobe_sweep"] = f"{type(swex).__name__}: {swex}"[:300]

        # Batched probes (VERDICT r4 #3): single-probe wall-clock carries
        # ~0.4 s of fixed per-job cost (driver planning + task dispatch)
        # that a bigger table would amortize but this host can't fit
        # (16M x 768 x 2 copies = 98 GB). The serving-shaped measurement
        # instead: 8 in-distribution queries answered by ONE
        # knn_join_parquet pass (each probed cluster's splits scanned
        # once, scoring all of its queries in one GEMM) vs 8 sequential
        # exact scans. Recall is checked per query against the exact
        # scan — the amortized speedup only counts at recall parity.
        if not over_budget(errors, "ann768_batch8"):
          try:  # own failure domain: a batch error must not relabel the
            # already-recorded single-probe ann768 results (noqa: E117)
            # NB follows the ACTUAL query count: a shrunken
            # SPARK_GRAFT_BENCH_ANN_ROWS can collapse the id fractions,
            # and a hardcoded 8 would deflate recall / inflate speedup
            NB = len(b_ids)
            qdf = spark.createDataFrame(
                [(i, b_rows[i]) for i in b_ids], "id long, embedding array<float>"
            )

            def ann_batch():
                return idx.knn_join_parquet(
                    spark, ivf_path, qdf, k=10, query_id="id", query_vec="embedding",
                    corpus_id="id", vector_col="embedding",
                ).collect()

            # recall truth: exact_sets computed once up top
            exact_ids = {qid: exact_sets[qid] for qid in b_ids}
            got = ann_batch()  # doubles as the warm run
            by_q: dict[int, set] = {}
            for r in got:
                by_q.setdefault(r[0], set()).add(r[1])
            bhits = sum(len(exact_ids[q] & by_q.get(q, set())) for q in b_ids)
            extras["ann768_batch8_recall_at_10"] = round(bhits / (10 * NB), 2)
            bts = sorted(timed(ann_batch) for _ in range(3))
            queries["ann768_batch8"] = bts[1]
            extras["ann768_batch8_best_sec"] = bts[0]
            extras["ann768_batch8_per_query_sec"] = round(bts[0] / NB, 4)
            # exact serving cost for the same batch = NB sequential scans
            # (measured best-of single scan x NB — the scan cost is the
            # same for every query vector)
            extras["ann768_batch_speedup"] = round(NB * ets[0] / bts[0], 2)
            print(
                f"  ann768_batch8: {bts} recall={extras['ann768_batch8_recall_at_10']} "
                f"speedup={extras['ann768_batch_speedup']}",
                file=sys.stderr,
            )
          except Exception as bex:  # noqa: BLE001
            errors["ann768_batch8"] = f"{type(bex).__name__}: {bex}"[:500]
            print(f"  ann768_batch8: FAILED {errors['ann768_batch8'].splitlines()[0]}", file=sys.stderr)

        # Chunked serving batch (VERDICT r10 #6): the G62 contract —
        # knn_join_parquet(chunk_queries=True) past the max_queries cap
        # — measured, not just parity-tested: 2048 in-distribution
        # queries against the 8M corpus in 4 blocks of 512. Each block
        # routes independently (bytes bounded by its probed clusters),
        # so wall ~ n_blocks x the block-union scan; the row records
        # queries/s plus an in-run parity check against the unchunked
        # single-block join (chunking must not change results).
        if not over_budget(errors, "ann768_cjoin2k"):
          try:  # own failure domain (noqa: E117)
            if time.perf_counter() - _T_START > BUDGET_S - 150:
                errors["ann768_cjoin2k"] = "skipped: < 150s of bench budget left"
                raise _BudgetSkip
            NCJ = 2048
            step = max(1, int(N_ANN) // NCJ)
            cj_src = (
                vecs_c.filter((F.col("id") % step == 7) & (F.col("id") < step * NCJ))
                .select("id", "embedding")
                .collect()
            )
            cj_df = spark.createDataFrame(
                [(r.id, vec_f32(r.embedding)) for r in cj_src],
                "id long, embedding array<float>",
            )

            def cjoin(chunked: bool):
                return idx.knn_join_parquet(
                    spark, ivf_path, cj_df, k=10, query_id="id", query_vec="embedding",
                    corpus_id="id", vector_col="embedding", nprobe=ann_nprobe,
                    max_queries=512 if chunked else len(cj_src),
                    chunk_queries=chunked,
                ).collect()

            got_c = cjoin(True)  # warm + parity operand
            got_u = cjoin(False)
            pairs = lambda rows: {(r[0], r[1]) for r in rows}
            extras["ann768_cjoin2k_parity"] = int(pairs(got_c) == pairs(got_u))
            tc = sorted(timed(lambda: cjoin(True)) for _ in range(1))
            queries["ann768_cjoin2k"] = tc[0]  # long key: 1 warm + 1 timed
            extras["ann768_cjoin2k_best_sec"] = tc[0]
            extras["ann768_cjoin2k_queries"] = len(cj_src)
            extras["ann768_cjoin2k_blocks"] = -(-len(cj_src) // 512)
            extras["ann768_cjoin2k_qps"] = round(len(cj_src) / tc[0], 1)
            print(
                f"  ann768_cjoin2k: {tc} n={len(cj_src)} "
                f"qps={extras['ann768_cjoin2k_qps']} parity={extras['ann768_cjoin2k_parity']}",
                file=sys.stderr,
            )
          except _BudgetSkip:
            print("  ann768_cjoin2k: SKIPPED (headroom)", file=sys.stderr)
          except Exception as cjex:  # noqa: BLE001
            errors["ann768_cjoin2k"] = f"{type(cjex).__name__}: {cjex}"[:500]
            print(f"  ann768_cjoin2k: FAILED {errors['ann768_cjoin2k'].splitlines()[0]}", file=sys.stderr)

        # Compounding storage demo (VERDICT r5 ask #5): IVF pruning OVER
        # the packed FLOAT16 twin — the sandbox analog of the reference
        # running Annoy against its bfloat16 table. write_half_table
        # preserves the ivf_cluster=K dirs, so a probe reads nprobe
        # clusters of half-width vectors: probed-bytes fraction ~
        # ann768_bytes_fraction x knn768_f16p_bytes_fraction of the
        # full-width table. Recall is judged against the FLOAT32 exact
        # scan, so the number prices quantization loss too.
        if not over_budget(errors, "ann768_f16p"):
          try:  # own failure domain (noqa: E117)
            from laion_spark.sources.halfvec import write_half_table

            ivf16p_path = f"/tmp/laion_bench_{N_ANN}x{DIM}_ivf{C}rg{RG_MB}_f16p.parquet"
            if not os.path.exists(f"{ivf16p_path}/_DONE"):
                if not ensure_free(
                    int(N_ANN) * DIM * 2 + 4 * 1024**3,
                    [f"/tmp/laion_bench_{N_VEC}x{DIM}_f16p.parquet"],
                    "ivf f16p twin",
                    spark=spark,
                ):
                    errors["ann768_f16p"] = "skipped: insufficient /tmp for the f16p twin"
                    raise _BudgetSkip
                t0 = time.perf_counter()
                write_half_table(spark, ivf_path, ivf16p_path, ["embedding"]).collect()
                _done_flush(ivf16p_path)
                print(f"  ivf f16p twin build: {time.perf_counter()-t0:.1f}s", file=sys.stderr)
            idx16p = IVFIndex(dim=DIM, n_clusters=C, nprobe=NPROBE)
            idx16p.centroids = idx.centroids  # same quantizer, own plan cache

            def ann16p_with(v):
                return idx16p.search_parquet(
                    spark, ivf16p_path, v, k=10, vector_col="embedding", select=["id"],
                    nprobe=ann_nprobe,
                ).collect()

            h16p = sum(
                len(exact_sets[qid] & {r.id for r in ann16p_with(all_rows[qid])})
                for qid in all_ids
            )
            extras["ann768_f16p_recall_at_10"] = round(h16p / (10 * len(all_ids)), 3)
            extras["ann768_f16p_job_floor_sec"] = min(timed(_noop_job) for _ in range(2))
            t16p = sorted(timed(lambda: ann16p_with(aq)) for _ in range(5))
            queries["ann768_f16p"] = t16p[2]
            extras["ann768_f16p_best_sec"] = t16p[0]
            extras["ann768_f16p_speedup"] = round(ets[0] / t16p[0], 2)
            probed16p = sum(
                du(f"{ivf16p_path}/ivf_cluster={p}")
                for p in idx16p.probe_clusters(aq, ann_nprobe)
                if os.path.isdir(f"{ivf16p_path}/ivf_cluster={p}")
            )
            extras["ann768_f16p_bytes_fraction"] = round(probed16p / du(ivf_path), 4)
            print(
                f"  ann768_f16p: {t16p} recall={extras['ann768_f16p_recall_at_10']} "
                f"speedup={extras['ann768_f16p_speedup']} "
                f"bytes_frac={extras['ann768_f16p_bytes_fraction']}",
                file=sys.stderr,
            )
            _rm(ivf16p_path)  # transient: a ~10 s rewrite next round
          except _BudgetSkip:
            print("  ann768_f16p: SKIPPED (disk)", file=sys.stderr)
          except Exception as pfex:  # noqa: BLE001
            errors["ann768_f16p"] = f"{type(pfex).__name__}: {pfex}"[:500]
            print(f"  ann768_f16p: FAILED {errors['ann768_f16p'].splitlines()[0]}", file=sys.stderr)

        # SQ8 ivf twin: pruning x 1/4 bytes — the deepest compression
        # point of the storage ladder (f32 -> f16 -> i8), recall judged
        # against the FLOAT32 exact sets like the f16 rows
        if not over_budget(errors, "ann768_i8"):
          try:  # own failure domain (noqa: E117)
            from laion_spark.sources.halfvec import write_int8_table

            ivfi8_path = f"/tmp/laion_bench_{N_ANN}x{DIM}_ivf{C}rg{RG_MB}_i8.parquet"
            if not os.path.exists(f"{ivfi8_path}/_DONE"):
                if not ensure_free(
                    int(N_ANN) * DIM + 2 * 1024**3,
                    [f"/tmp/laion_bench_{N_VEC}x{DIM}_f16p.parquet"],
                    "ivf i8 twin",
                    spark=spark,
                ):
                    errors["ann768_i8"] = "skipped: insufficient /tmp for the i8 twin"
                    raise _BudgetSkip
                t0 = time.perf_counter()
                write_int8_table(spark, ivf_path, ivfi8_path, ["embedding"]).collect()
                _done_flush(ivfi8_path)
                print(f"  ivf i8 twin build: {time.perf_counter()-t0:.1f}s", file=sys.stderr)
            idxi8 = IVFIndex(dim=DIM, n_clusters=C, nprobe=NPROBE)
            idxi8.centroids = idx.centroids

            def anni8_with(v):
                return idxi8.search_parquet(
                    spark, ivfi8_path, v, k=10, vector_col="embedding", select=["id"],
                    nprobe=ann_nprobe, scale_col="embedding_scale",
                ).collect()

            hi8 = sum(
                len(exact_sets[qid] & {r.id for r in anni8_with(all_rows[qid])})
                for qid in all_ids
            )
            extras["ann768_i8_recall_at_10"] = round(hi8 / (10 * len(all_ids)), 3)
            extras["ann768_i8_job_floor_sec"] = min(timed(_noop_job) for _ in range(2))
            ti8 = sorted(timed(lambda: anni8_with(aq)) for _ in range(5))
            queries["ann768_i8"] = ti8[2]
            extras["ann768_i8_best_sec"] = ti8[0]
            extras["ann768_i8_speedup"] = round(ets[0] / ti8[0], 2)
            probedi8 = sum(
                du(f"{ivfi8_path}/ivf_cluster={p}")
                for p in idxi8.probe_clusters(aq, ann_nprobe)
                if os.path.isdir(f"{ivfi8_path}/ivf_cluster={p}")
            )
            extras["ann768_i8_bytes_fraction"] = round(probedi8 / du(ivf_path), 4)
            print(
                f"  ann768_i8: {ti8} recall={extras['ann768_i8_recall_at_10']} "
                f"speedup={extras['ann768_i8_speedup']} "
                f"bytes_frac={extras['ann768_i8_bytes_fraction']}",
                file=sys.stderr,
            )
            _rm(ivfi8_path)  # transient, like the f16 twins
          except _BudgetSkip:
            print("  ann768_i8: SKIPPED (disk)", file=sys.stderr)
          except Exception as qex:  # noqa: BLE001
            errors["ann768_i8"] = f"{type(qex).__name__}: {qex}"[:500]
            print(f"  ann768_i8: FAILED {errors['ann768_i8'].splitlines()[0]}", file=sys.stderr)

        # The big-ANN curve point the judge asked for three rounds
        # running now IS the section above: N_ANN defaults to 8M (the
        # 16M fallback VERDICT r7 offered is still impossible — 48 GB
        # table + 48 GB build shuffle on an ~80 GB /tmp budget that
        # also holds the 10M brute-force fixture).

        # NOTE (r12): the 1M/4M ANN scale-curve points moved to AFTER the
        # 16M quantize-on-ingest pair — see below. The 16M pair had never
        # landed in a frozen artifact (VERDICT r11 #5) while the curve
        # shipped in r10/r11, so it gets the earlier budget slot.
    except _BudgetSkip:
        pass
    except Exception as ex:  # noqa: BLE001
        errors["ann768"] = f"{type(ex).__name__}: {ex}"[:500]
        print(f"  ann768: FAILED {errors['ann768'].splitlines()[0]}", file=sys.stderr)
        # a failed build leaves a partial table (+ _temporary debris)
        # that silently starves every later section's ensure_free — the
        # r11 cascade (ENOSPC ivf build -> 10M and 16M disk-skips).
        # cent_path is only written on full completion, so its absence
        # identifies a partial.
        try:
            if not os.path.exists(cent_path) and os.path.exists(ivf_path):
                freed = _rm(ivf_path)
                print(f"  ann768: removed partial index ({freed/1024**3:.1f} GB)", file=sys.stderr)
        except NameError:
            pass

    emit_checkpoint(queries, extras, errors, sf_val, "ann768", sentinels=sentinels)

    # the ivf build's sliced cluster exchanges are the single biggest
    # dead-shuffle source (~50 GB at 8M) — reclaim before the 16M build
    spark = recycle_session(spark, "post_ann")

    # 16M quantize-on-ingest scale point (VERDICT r10 #5): the largest
    # brute-force + ANN pair the disk budget fits. 30M stays out of
    # reach as STANDING evidence — a 23 GB SQ8 table cannot coexist
    # with the 10M f32 base (29 GB) + 8M ivf (24 GB) + doc/event/ETL
    # sets (~16 GB) inside the ~80 GB real /tmp budget without evicting
    # a persistent fixture every run — but 16M SQ8 (12.3 GB) fits
    # transiently, and write_int8_index builds it WITHOUT a float32
    # copy ever existing: generate -> assign -> quantize BEFORE the
    # cluster shuffle -> partitioned FLBA write. One table serves both
    # rows: exact = scan every cluster, ANN = probe (recall vs that
    # same exact scan isolates pruning loss; quantization loss is
    # pinned at recall 1.0 by the 10M SQ8 row). Runs LAST: it may evict
    # the already-measured 10M base (rebuilds in ~80 s next round).
    # scale ladder (VERDICT r13 #2): default to a 32M-row SQ8 pair
    # (24.6 GB of codes — halves the row-count extrapolation to the
    # reference's 100M anchors vs the 16M pair frozen in r11-r13),
    # DOWNGRADING to the proven 16M scale when the remaining budget
    # cannot fund the bigger build OR the 32M attempt fails (r14 run a:
    # the per-slice watchdog killed a 32M slice under 0.1 GiB/s disk
    # weather and the round lost the big scale point entirely) — a
    # squeezed or hostile round freezes the 16M row instead.
    _big_default = int(
        os.environ.get(
            "SPARK_GRAFT_BENCH_BIG_ROWS",
            os.environ.get("SPARK_GRAFT_BENCH_16M_ROWS", "32000000"),
        )
    )

    def _bighead(n):
        # measured-rate headroom when this run rebuilt the 8M ivf (a
        # comparable ~N_ANN*DIM*4-byte packed write under TODAY'S IO
        # weather), else the static r11 estimate (290 s one-pass 16M
        # build + rows)
        bsec = extras.get("ivf_build_sec")
        if bsec:
            return max(360, int(bsec / int(N_ANN) * n * 1.3) + 150)
        return max(360, int(300 * n / 16_000_000) + 100)

    _ladder = [_big_default]
    if _big_default > 16_000_000 and "SPARK_GRAFT_BENCH_BIG_ROWS" not in os.environ:
        _ladder.append(16_000_000)
    for _li, N_BIG in enumerate(_ladder):
        if _li:
            print(
                f"  big pair: downgrading {_ladder[0] // 1_000_000}M -> "
                f"{N_BIG // 1_000_000}M", file=sys.stderr,
            )
            extras["big_pair_downgraded"] = 1
        elif (
            N_BIG > 16_000_000
            and len(_ladder) > 1
            and time.perf_counter() - _T_START > BUDGET_S - _bighead(N_BIG)
        ):
            print(
                f"  big pair: skipping {N_BIG // 1_000_000}M scale "
                "(budget headroom), trying 16M", file=sys.stderr,
            )
            extras["big_pair_downgraded"] = 1
            continue
        big_m = max(1, N_BIG // 1_000_000)
        kbig, abig = f"knn768_i8_{big_m}m", f"ann768_i8_{big_m}m"
        extras["big_scale_m"] = big_m
        try:
            if os.environ.get("SPARK_GRAFT_BENCH_SKIP_16M"):
                errors[kbig] = "skipped: SPARK_GRAFT_BENCH_SKIP_16M set"
                print(f"  {kbig}: SKIPPED (env)", file=sys.stderr)
                raise _BudgetSkip
            if LOW_CORE:
                errors[kbig] = "skipped: low-core scaling subset"
                print(f"  {kbig}: SKIPPED (low-core subset)", file=sys.stderr)
                raise _BudgetSkip
            if over_budget(errors, kbig) or time.perf_counter() - _T_START > BUDGET_S - _bighead(N_BIG):
                if kbig not in errors:
                    errors[kbig] = f"skipped: < {_bighead(N_BIG)}s of bench budget left"
                    print(f"  {kbig}: SKIPPED (headroom)", file=sys.stderr)
                raise _BudgetSkip
            raw_i8 = N_BIG * DIM  # codes bytes ~= table bytes (incompressible)
            # table + ONE slice's shuffle transient (the build is sliced —
            # see below — so the whole-table 2.4x of r11 is no longer the
            # peak; today's real /tmp budget is ~51 GB and cannot hold the
            # 24 GB ivf table plus a 30 GB single-pass build)
            if not ensure_free(
                int(raw_i8 * 1.35) + 2 * 1024**3,
                [
                    f"/tmp/laion_bench_{N_VEC}x{DIM}_f16p.parquet",
                    f"/tmp/laion_bench_{N_VEC}x{DIM}_i8.parquet",
                    f"/tmp/laion_bench_{N_10M}x{DIM}_f16p.parquet",
                    f"/tmp/laion_bench_{N_10M}x{DIM}_i8.parquet",
                    # base before the small family fixtures (measured rows,
                    # ~80 s rebuild, 29 GB at once — see the ivf-build list)
                    BASE10M_PATH,
                    # the ivf table BEFORE the family fixtures (r13 lesson:
                    # families feed the children that run after this
                    # section and rebuild at ~minutes each under hostile
                    # IO; the ivf was fully measured by now and rebuilds
                    # from kept centroids via the packed pipeline). Needed
                    # only at the 32M scale — 24.6 GB of codes cannot sit
                    # next to the 23 GB ivf table.
                    IVF_PATH,
                    "/tmp/laion_events_10000000_tsorted.parquet",
                    f"/tmp/laion_etl_32x16384x{DIM}",
                    "/tmp/laion_docs_4m.parquet",
                    "/tmp/laion_docs_10m.parquet",
                ],
                f"i8 {big_m}m index",
                spark=spark,
            ):
                errors[kbig] = (
                    f"skipped: {big_m}M SQ8 index needs ~{(raw_i8 * 1.35 + 2 * 1024**3) / 1024**3:.0f} GB free"
                )
                print(f"  {kbig}: SKIPPED (disk)", file=sys.stderr)
                raise _BudgetSkip
            from laion_spark.operators.similarity import IVFIndex
            from laion_spark.sources.halfvec import write_int8_index

            C16, RG16 = 256, 8
            idx16m = IVFIndex(dim=DIM, n_clusters=C16, n_iters=4, nprobe=4)
            cent16 = f"/tmp/laion_bench_{N_ANN}x{DIM}_ivf{C16}rg{RG16}_centroids.json"
            if os.path.exists(cent16):
                # the 8M headline's quantizer: the generative mixture is
                # scale-invariant, so sharing centroids isolates SCALE (same
                # policy as the ann curve) and skips a redundant fit
                idx16m.centroids = json.load(open(cent16))
            else:
                idx16m.fit(
                    synth_df(spark, N_BIG, DIM, clustered=True),
                    id_col="id", vector_col="embedding", fit_rows=200_000,
                )
            path16 = f"/tmp/laion_bench_{N_BIG}x{DIM}_ivf{C16}i8.parquet"
            t0 = time.perf_counter()
            # sliced build (r12): one pass's cluster exchange leaves its
            # full shuffle DEAD in /tmp/blockmgr-* until the session is
            # recycled, so a single full pass peaks at table + whole-table
            # shuffle (~30 GB) — over today's budget next to the 24 GB ivf
            # table. Disjoint id slices (elements are pure functions of id)
            # appended with per-slice file tags keep the peak at table +
            # ONE slice's shuffle; recycle_session between slices drops
            # each dead shuffle before the next.
            import shutil as _sh16
            import threading

            head16 = _sh16.disk_usage("/tmp").free - raw_i8 - 2 * 1024**3
            n16 = max(1, -(-int(raw_i8 * 1.2) // max(head16, 4 * 1024**3)))
            # wedge-exposure cap (r14 run 2): slicing by DISK headroom
            # alone gave 2 x 16M-row slices on a roomy /tmp, and a single
            # hung python worker then burned that slice's whole scaled
            # watchdog (40 min of budget for one stuck task). Cap slices
            # at SLICE_CAP_ROWS so a wedge costs at most
            # SLICE_CAP_ROWS/1M x WATCHDOG_S_PER_MROW ≈ 1200 s and the
            # downgrade ladder still has budget to retry; extra slices
            # are near-free (each recycle also drops dead shuffle files).
            n16 = max(n16, -(-N_BIG // SLICE_CAP_ROWS))
            per16 = -(-N_BIG // n16)
            for sl16 in range(n16):
                lo16, hi16 = sl16 * per16, min((sl16 + 1) * per16, N_BIG)
                gen16 = synth_df(spark, hi16, DIM, clustered=True, start=lo16, packed=True)
                # watchdog: run c of r11 saw a build's map stage wedge at
                # 63/64 tasks for 20+ min (one hung python worker). A hung
                # LAST section must degrade to its error marker, not take
                # the whole artifact with it — cancel the job group at ~3x
                # the measured per-pass build time.
                sc = spark.sparkContext
                sc.setJobGroup("i8_big_build", f"{big_m}M SQ8 index build", interruptOnCancel=True)
                # wedge watchdog scaled to THIS slice's rows (r14 run a:
                # a fixed 900 s killed a healthy 32M-scale slice under
                # 0.1 GiB/s disk weather) — ~3x a hostile-weather pass
                dog_s = max(900.0, WATCHDOG_S_PER_MROW * (hi16 - lo16) / 1_000_000)
                dog = threading.Timer(dog_s, lambda sc=sc: sc.cancelJobGroup("i8_big_build"))
                dog.daemon = True
                dog.start()
                try:
                    write_int8_index(
                        idx16m.build(gen16, "embedding"), path16, dim=DIM,
                        vector_col="embedding", row_group_bytes=RG16 * 1024 * 1024,
                        # slice 0 clears any crash-orphaned partial; later
                        # slices append (each write names its own files)
                        mode="overwrite" if sl16 == 0 else "append",
                    )
                finally:
                    dog.cancel()
                    sc.setJobGroup("", "")
                if sl16 + 1 < n16:
                    spark = recycle_session(spark, f"16m slice {sl16 + 1}/{n16}")
            build16 = round(time.perf_counter() - t0, 1)
            extras[f"{kbig}_build_slices"] = n16
            extras[f"{kbig}_build_sec"] = build16
            print(f"  i8 {big_m}m index build: {build16}s ({du(path16)/1024**3:.1f} GB)",
                  file=sys.stderr)

            # in-distribution query: dequantize a corpus row's own codes
            import numpy as np

            qrow = (
                spark.read.parquet(path16)
                .filter(F.col("id") == int(N_BIG * 0.123457))
                .select("embedding", "embedding_scale")
                .collect()[0]
            )
            q16 = (np.frombuffer(qrow[0], np.int8).astype(np.float64) * float(qrow[1])).tolist()

            def exact16():
                return knn_search_parquet(
                    spark, path16, q16, k=10, vector_col="embedding", select=["id"],
                    scale_col="embedding_scale",
                ).collect()

            truth16 = {r.id for r in exact16()}  # warm + ANN recall truth
            te16 = sorted(timed(exact16) for _ in range(3))
            queries[kbig] = te16[1]
            extras[f"{kbig}_rows"] = N_BIG
            extras[f"{kbig}_best_sec"] = te16[0]
            extras[f"{kbig}_rows_per_sec"] = round(N_BIG / te16[0])
            # fraction vs the f32 bytes this table never had to materialize
            extras[f"{kbig}_bytes_fraction"] = round(du(path16) / (N_BIG * DIM * 4), 4)
            print(f"  {kbig}: {te16} bfrac={extras[f'{kbig}_bytes_fraction']}",
                  file=sys.stderr)

            def ann16m(np_=None):
                return idx16m.search_parquet(
                    spark, path16, q16, k=10, vector_col="embedding", select=["id"],
                    nprobe=np_, scale_col="embedding_scale",
                ).collect()

            np16, rec16 = 4, 0.0
            for np_try in (2, 3, 4):
                rec16 = len(truth16 & {r.id for r in ann16m(np_try)}) / 10
                if rec16 >= 0.95 or np_try == 4:
                    np16 = np_try
                    break
            ta16 = sorted(timed(lambda: ann16m(np16)) for _ in range(5))
            queries[abig] = ta16[2]
            extras[f"{abig}_rows"] = N_BIG
            extras[f"{abig}_recall_at_10"] = round(rec16, 3)
            extras[f"{abig}_nprobe"] = np16
            extras[f"{abig}_best_sec"] = ta16[0]
            extras[f"{abig}_speedup"] = round(te16[0] / ta16[0], 2)
            probed16m = sum(
                du(f"{path16}/ivf_cluster={p}")
                for p in idx16m.probe_clusters(q16, np16)
                if os.path.isdir(f"{path16}/ivf_cluster={p}")
            )
            # vs the f32 bytes: pruning x quantization, the compounding metric
            extras[f"{abig}_bytes_fraction"] = round(probed16m / (N_BIG * DIM * 4), 4)
            print(
                f"  {abig}: {ta16} recall={rec16:.2f} nprobe={np16} "
                f"speedup={extras[f'{abig}_speedup']} "
                f"bfrac={extras[f'{abig}_bytes_fraction']}",
                file=sys.stderr,
            )
            _rm(path16)  # transient — the budget persists only the 8M ivf + 10M base
            break  # pair landed at this scale
        except _BudgetSkip:
            break
        except Exception as ex16:  # noqa: BLE001
            errors[kbig] = f"{type(ex16).__name__}: {ex16}"[:500]
            print(f"  {kbig}: FAILED {errors[kbig].splitlines()[0]}", file=sys.stderr)
            try:  # a partial big table must not starve the next run's disk
                if os.path.exists(path16):
                    _rm(path16)
            except NameError:
                pass
            if (
                _li + 1 < len(_ladder)
                and time.perf_counter() - _T_START < BUDGET_S - _bighead(16_000_000)
            ):
                continue  # one retry at the proven 16M scale
            break
    emit_checkpoint(queries, extras, errors, sf_val, "big_pair", sentinels=sentinels)

    # the big build's exchange dies here so the curve's transient
    # builds start with a clean /tmp
    spark = recycle_session(spark, "post_big_pair")

    # Same-harness ANN scale curve (VERDICT r9 #3): 1M and 4M points
    # measured in THIS artifact alongside the 8M headline, so one BENCH
    # carries the 1M/4M/8M triple. Transient builds — the /tmp budget
    # persists only the 8M table between rounds; each point is built
    # (bounded-sample fit + one assign→write pass), tuned, measured,
    # and deleted before the next. Runs AFTER the 16M pair since r12
    # (see the note in the ann section): under IO-hostile rounds the
    # later slot is the one the budget squeezes, and these points have
    # two frozen artifacts behind them already.
    try:
        # NB: knn_search_parquet is the MODULE-level import — re-importing
        # it locally here would make the name a local of main() and break
        # every earlier section that calls it (smoke-caught NameError)
        from laion_spark.operators.similarity import IVFIndex

        idx.centroids  # NameError when the ann768 section never built the quantizer
        for n_pt in (1_000_000, 4_000_000):
            key = f"ann768_{n_pt // 1_000_000}m"
            try:
                if n_pt >= N_ANN:
                    continue  # shrunken smoke runs never build above N_ANN
                if os.environ.get("SPARK_GRAFT_BENCH_SKIP_ANN_CURVE"):
                    errors[key] = "skipped: SPARK_GRAFT_BENCH_SKIP_ANN_CURVE set"
                    continue
                if over_budget(errors, key):
                    raise _BudgetSkip
                need_head = 300 if n_pt > 2_000_000 else 150
                if time.perf_counter() - _T_START > BUDGET_S - need_head:
                    errors[key] = f"skipped: < {need_head}s of bench budget left"
                    print(f"  {key}: SKIPPED (headroom)", file=sys.stderr)
                    raise _BudgetSkip
                raw_pt = n_pt * DIM * 4
                pt_path = f"/tmp/laion_bench_{n_pt}x{DIM}_ivf{C}rg{RG_MB}.parquet"
                # evict cheap 1M fixtures first; the 10M base is the
                # last resort — it rebuilds in ~60 s (synth_vectors)
                # while the 4M point is unmeasurable without the room
                # (r10 first run: 22 GB reachable vs 25 GB needed)
                if not ensure_free(
                    int(raw_pt * 2.2),
                    [
                        f"/tmp/laion_bench_{N_VEC}x{DIM}_f16p.parquet",
                        f"/tmp/laion_bench_{N_VEC}x{DIM}_i8.parquet",
                        f"/tmp/laion_bench_{N_VEC}x{DIM}.parquet",
                        BASE10M_PATH,
                    ],
                    key,
                    spark=spark,
                ):
                    errors[key] = (
                        f"skipped: ivf curve build needs ~{raw_pt * 2.2 / 1024**3:.0f} GB free"
                    )
                    print(f"  {key}: SKIPPED (disk)", file=sys.stderr)
                    raise _BudgetSkip
                if idx.centroids is None:
                    errors[key] = "skipped: no 8M quantizer to share"
                    raise _BudgetSkip
                idx_pt = IVFIndex(dim=DIM, n_clusters=C, nprobe=NPROBE)
                # same quantizer as the 8M headline: the generative
                # mixture is identical at every scale (centers depend
                # only on the seed), so sharing centroids isolates the
                # SCALE variable and skips a redundant ~90 s fit — the
                # fit-once / index-growing-data serving shape
                idx_pt.centroids = idx.centroids
                t0 = time.perf_counter()
                gen_pt = synth_df(spark, n_pt, DIM, clustered=True, packed=True)
                from laion_spark.sources.halfvec import write_packed_index as _wpi

                _wpi(
                    idx_pt.build(gen_pt, "embedding"), pt_path, dim=DIM,
                    vector_col="embedding",
                    row_group_bytes=RG_MB * 1024 * 1024, mode="overwrite",
                )
                idx_pt._scan_cache = None
                print(f"  {key} ivf build: {time.perf_counter()-t0:.1f}s", file=sys.stderr)
                vec_pt = spark.read.parquet(pt_path)
                pq_ids = sorted({int(n_pt * f) for f in (0.123457, 0.7777, 0.9991)})
                pt_rows = {r.id: vec_f32(r.embedding)
                           for r in vec_pt.filter(F.col("id").isin(pq_ids)).collect()}
                aq_pt = pt_rows[pq_ids[0]]

                def exact_pt(v):
                    return knn_search_parquet(
                        spark, pt_path, v, k=10, vector_col="embedding", select=["id"]
                    ).collect()

                exact_sets_pt = {i: {r.id for r in exact_pt(v)} for i, v in pt_rows.items()}

                def ann_pt(v, np_=None):
                    return idx_pt.search_parquet(
                        spark, pt_path, v, k=10, vector_col="embedding",
                        select=["id"], nprobe=np_,
                    ).collect()

                # same recall-targeted tuning as the headline point
                np_pt, rec_pt = NPROBE, 0.0
                for np_try in (2, 3, NPROBE):
                    hits = sum(
                        len(exact_sets_pt[i] & {r.id for r in ann_pt(v, np_try)})
                        for i, v in pt_rows.items()
                    )
                    rec_pt = hits / (10 * len(pt_rows))
                    if rec_pt >= 0.95 or np_try == NPROBE:
                        np_pt = np_try
                        break
                ets_pt = sorted(timed(lambda: exact_pt(aq_pt)) for _ in range(3))
                ts_pt = sorted(timed(lambda: ann_pt(aq_pt, np_pt)) for _ in range(5))
                queries[key] = ts_pt[2]
                extras[f"{key}_rows"] = n_pt
                extras[f"{key}_recall_at_10"] = round(rec_pt, 3)
                extras[f"{key}_nprobe"] = np_pt
                extras[f"{key}_best_sec"] = ts_pt[0]
                extras[f"{key}_exact_best_sec"] = ets_pt[0]
                extras[f"{key}_speedup"] = round(ets_pt[0] / ts_pt[0], 2)
                tot_pt = du(pt_path)
                fr_pt = []
                for i, v in pt_rows.items():
                    probed = sum(
                        du(f"{pt_path}/ivf_cluster={p}")
                        for p in idx_pt.probe_clusters(v, np_pt)
                        if os.path.isdir(f"{pt_path}/ivf_cluster={p}")
                    )
                    fr_pt.append(probed / tot_pt)
                extras[f"{key}_bytes_fraction"] = round(sum(fr_pt) / len(fr_pt), 4)
                print(
                    f"  {key}: {ts_pt} exact={ets_pt} recall={rec_pt:.3f} nprobe={np_pt} "
                    f"speedup={extras[f'{key}_speedup']} bfrac={extras[f'{key}_bytes_fraction']}",
                    file=sys.stderr,
                )
                _rm(pt_path)  # transient — only the 8M table persists
            except _BudgetSkip:
                pass
            except Exception as cpex:  # noqa: BLE001
                errors[key] = f"{type(cpex).__name__}: {cpex}"[:500]
                print(f"  {key}: FAILED {errors[key].splitlines()[0]}", file=sys.stderr)
    except NameError:
        for key in ("ann768_1m", "ann768_4m"):
            errors.setdefault(key, "skipped: no 8M quantizer (ann768 section failed)")
            print(f"  {key}: SKIPPED (no quantizer)", file=sys.stderr)

    # everything below runs in FRESH child JVMs, AFTER the vector
    # sections: the ~60 GB of Arrow scans above leave allocator/GC/JIT
    # state that inflates the HOF-heavy dedup pipelines ~2-3x and the
    # generic ETL sink ~3x (measured r5/r9), so isolation — not suite
    # order — keeps these rows honest, while the BASELINE headline rows
    # above kept first claim on the wall-clock budget (VERDICT r11 #1).
    # These long contention-sensitive families absorb whatever budget
    # remains; their rows have 11 rounds of green history.
    emit_checkpoint(queries, extras, errors, sf_val, "ann_curve", sentinels=sentinels)

    # the parent's dead shuffle files would otherwise starve the child
    # JVMs' fixture rebuilds (74 GB observed before this existed)
    reclaim_shuffle(spark, "children")
    # the tail child's cap is additionally bounded to 60% of whatever
    # budget remains, so it can never consume the dedup child's whole
    # share (a cap is a ceiling, not a reservation — under a squeezed
    # round the first child used to eat everything left)
    remaining_c = max(0.0, BUDGET_S - (time.perf_counter() - _T_START))
    _run_family_isolated("--tail-family", tail_family, "tail_family",
                         queries, extras, errors,
                         cap=min(900.0, 0.6 * remaining_c))
    emit_checkpoint(queries, extras, errors, sf_val, "tail_family", sentinels=sentinels)
    # the dedup cap is bounded to the budget remaining AFTER the tail
    # child finishes (ADVICE r13: a fixed 1100 s cap read as if it
    # could overshoot BUDGET_S; _run_family_isolated already re-bounds
    # cap→min(remaining, cap) internally, this makes it explicit at
    # the call site and in the stderr log)
    remaining_d = max(0.0, BUDGET_S - (time.perf_counter() - _T_START))
    _run_family_isolated("--dedup-family", dedup_family, "dedup_family",
                         queries, extras, errors,
                         cap=min(1100.0, remaining_d))

    # fill any family key the children never produced from its main-JVM
    # sentinel (VERDICT r12 #3) — explicit provenance in extras
    apply_sentinel_fallbacks(queries, extras, errors, sentinels)

    # fallback disk calibration: if the 10M section (the probe's home)
    # skipped, probe the 1M table so the artifact always carries a
    # same-run bandwidth fact (run-b lesson: the one run that NEEDS
    # drift attribution is exactly the one where sections skip)
    if "disk2g_floor_sec" not in extras:
        p1m = f"/tmp/laion_bench_{N_VEC}x{DIM}.parquet"
        if os.path.isdir(p1m):
            disk_probe(extras, p1m)

    # every expected row must be present in queries{} OR carry an error
    # marker: a section-level skip used to suppress its dependent rows
    # with no trace (VERDICT r11 #3 — set(expected) - set(present) -
    # set(errors) must be empty in every artifact)
    expected_rows = [
        "dedup1m", "winnow1m", "contain1m", "dedup4m", "dedup10m", "contain4m",
        *HEADLINERS,
        "funnel10m", "sessions10m", "topk10m", "ks10m", "stream10m", "stream10m_wm",
        "etl_shards", "etl_shards_direct",
        "knn768", "concept768", "knn768_f16p", "knn768_i8",
        "ann768_exact", "ann768", "ann768_batch8", "ann768_cjoin2k",
        "ann768_f16p", "ann768_i8", "ann768_1m", "ann768_4m",
        "knn768_10m", "concept768_10m", "knn768_f16p_10m", "knn768_i8_10m",
        # the big SQ8 pair's scale is chosen at run time (32M default,
        # 16M budget fallback) — the section stamps the chosen scale
        f"knn768_i8_{extras.get('big_scale_m', 32)}m",
        f"ann768_i8_{extras.get('big_scale_m', 32)}m",
    ]
    for k in expected_rows:
        if k not in queries and k not in errors:
            errors[k] = "suppressed: upstream section skipped/failed before this row"

    total = round(sum(queries.values()), 4)
    out = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # headliners run on engine-ingested tables unless ingest failed
        # (stamped by the tail child; absent = the tail family never ran)
        "layout": extras.get("layout", "none"),
        "knn768_rows": N_VEC,
        "ann768_rows": N_ANN,
        # queries{} stat policy: median of 3/5 timed runs; long-run keys
        # (dedup4m, etl_shards, catalog q*) best-of-2 (ADVICE r5)
        "stat_policy": "median-of-3/5; 2-run keys best-of-2",
        **{k: v for k, v in extras.items() if k != "layout"},
    }
    if "knn768" in queries:
        out["knn768_rows_per_sec_median"] = round(N_VEC / queries["knn768"])
    if errors:
        out["errors"] = errors
    # The driver keeps only the LAST 2000 stdout chars and parses the
    # final JSON line — r5's single ~2.6 kB line overflowed that window
    # (BENCH_r05 parsed: null). Emit the full detail dict FIRST (stdout
    # + stderr for humans/judges), then a compact final line that stays
    # well under the tail capture: queries rounded to 3 dp, extras
    # replaced by a pointer to the detail line.
    detail_line = json.dumps(out)
    print(detail_line, flush=True)
    print(detail_line, file=sys.stderr)
    print(build_compact_line(queries, extras, errors, out["sf"]), flush=True)


def build_compact_line(
    queries: dict, extras: dict, errors: dict, sf, partial: str | None = None
) -> str:
    """Compact (<=1900 char) JSON artifact line for the driver's
    2000-char tail window (VERDICT r9 #2: a truncated tail once dropped
    ann768_rows + per-row recalls from the machine-readable artifact).

    Vector/ANN rows carry their FULL detail as positional arrays
    (median, best, bytes_fraction, recall, speedup — trailing nulls
    trimmed) in vec{}; every other row keeps its median in queries{}.
    Contention floors stay (VERDICT r8 #3). ``partial`` marks a MID-RUN
    CHECKPOINT line (VERDICT r12 #4): main() emits one after every
    heavy section, so a kill between sections leaves the last
    checkpoint as a parseable artifact holding every completed row —
    the final full-run line supersedes them all when the run survives.

    Root-error preservation (VERDICT r12 #2): the first non-suppressed
    failure ships verbatim (truncated text, never dropped) as
    root_error, and the error_keys trim only ever drops "suppressed:"
    markers — a failed section's actual cause is always readable from
    the frozen compact line alone."""
    total = round(sum(queries.values()), 4)
    VEC_COLS = ["med", "best", "bfrac", "recall", "speedup"]
    vec: dict[str, list] = {}
    plain_queries: dict[str, float] = {}

    def _r3(x):
        return None if x is None else round(x, 3)

    for k, v in queries.items():
        if k.startswith(("knn768", "concept768", "ann768")):
            row = [
                round(v, 3),
                _r3(extras.get(f"{k}_best_sec")),
                extras.get(f"{k}_bytes_fraction"),
                extras.get(f"{k}_recall_at_10"),
                extras.get(f"{k}_speedup"),
            ]
            while row and row[-1] is None:
                row.pop()
            vec[k] = row
        else:
            plain_queries[k] = round(v, 3)
    compact = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "layout": extras.get("layout", "none"),
        "knn768_rows": N_VEC,
        "ann768_rows": N_ANN,
        "ann768_nprobe": extras.get("ann768_nprobe"),
        "queries": plain_queries,
        "vec_cols": VEC_COLS,
        "vec": vec,
        # floor-sentinel keys with the redundant suffix stripped
        "floors": {
            k[: -len("_floor_sec")]: round(v, 4)
            for k, v in extras.items()
            if k.endswith("_floor_sec")
        },
    }
    if partial:
        compact["partial"] = partial
    # per-row disk ratios (VERDICT r14 next-round #1): wall-clock of the
    # row's best rep as a multiple of its bytes at the bandwidth probed
    # at THAT ROW's start — the in-artifact IO attribution for every
    # 10M-family row. Aliases (line budget): k10=knn768_10m,
    # w10=knn768_10m_warm, c10=concept768_10m, f16p10=knn768_f16p_10m,
    # i810=knn768_i8_10m.
    dr = {}
    for fk, alias in (
        ("knn768_10m", "k10"), ("knn768_10m_warm", "w10"),
        ("concept768_10m", "c10"), ("knn768_f16p_10m", "f16p10"),
        ("knn768_i8_10m", "i810"),
    ):
        v = extras.get(f"{fk}_disk_ratio")
        if v is not None:
            dr[alias] = v
    if dr:
        compact["dr"] = dr
    if "ann768_nprobe_sweep" in extras:
        compact["nprobe_sweep"] = extras["ann768_nprobe_sweep"]
    for ck in (
        "ann768_1m", "ann768_4m",
        f"ann768_i8_{extras.get('big_scale_m', 32)}m",
    ):
        if f"{ck}_rows" in extras:
            compact[f"{ck}_rows"] = extras[f"{ck}_rows"]
    dp_action = (extras.get("disk_plan") or {}).get("action")
    if dp_action and dp_action != "fits":
        # eviction/downgrade decisions surface in the parsed artifact,
        # not just the detail line (VERDICT r12 #1: never silent)
        compact["disk_plan"] = dp_action
    if errors:
        compact["error_keys"] = sorted(errors)
        root = _pick_root_error(errors)
        if root:
            compact["root_error"] = [root[0], root[1][:160]]
    if "probe_error" in extras:
        # the probe's failure reason must survive into the parsed
        # artifact, not just the detail line (VERDICT r11 #2)
        compact["probe_error"] = str(extras["probe_error"])[:120]

    def emit(c):
        return json.dumps(c, separators=(",", ":"))

    # measured trim cascade — the driver parses only the FINAL line out
    # of its 2000-char tail, so stay under 1900 with graceful detail
    # loss (never recall/rows/root-cause: those are the artifact's point)
    line = emit(compact)
    if len(line) > 1900:  # 1) catalog medians to 2 dp
        compact["queries"] = {k: round(v, 2) for k, v in plain_queries.items()}
        line = emit(compact)
    if len(line) > 1900:  # 2) vec med/best to 2 dp (bfrac/recall untouched)
        vec = {
            k: [round(x, 2) if i < 2 and x is not None else x for i, x in enumerate(v)]
            for k, v in vec.items()
        }
        compact["vec"] = vec
        line = emit(compact)
    if len(line) > 1900:  # 3) drop speedup (derivable: exact best / ann best)
        compact["vec"] = {k: v[:4] for k, v in vec.items()}
        compact["vec_cols"] = VEC_COLS[:4]
        line = emit(compact)
    if len(line) > 1900:  # 4) drop best (median stays; detail line has best)
        compact["vec"] = {k: v[:1] + v[2:4] for k, v in vec.items()}
        compact["vec_cols"] = [VEC_COLS[0]] + VEC_COLS[2:4]
        line = emit(compact)
    if len(line) > 1900:  # 4.5) per-row probe floors: the dr{} ratios
        # already embed the fresh per-row bandwidth, so the prefixed
        # floor keys are the first attribution detail to go (the detail
        # line keeps every one)
        compact["floors"] = {
            k: v for k, v in compact["floors"].items()
            if not k.startswith(("c10m_", "f16p10m_", "i810m_"))
        }
        line = emit(compact)
    if len(line) > 1900:  # 4.6) nprobe_sweep + informational *_rows are
        # secondary (sweep is in the detail line; the big-pair scale is
        # in its key name) — drop them before ANY catalog median is
        # lost: a missing queries{} key reads as dropped-from-bench
        compact.pop("nprobe_sweep", None)
        for ck in list(compact):
            if ck.endswith("_rows") and ck not in ("knn768_rows", "ann768_rows"):
                compact.pop(ck)
        line = emit(compact)
    if len(line) > 1900:  # 4.7) floors to 3 dp (the 4th digit is noise
        # against 5-30% host swings; detail line keeps 4 dp)
        compact["floors"] = {k: round(v, 3) for k, v in compact["floors"].items()}
        line = emit(compact)
    if len(line) > 1900:  # 4.8) per-row ann probe job floors: the
        # family-level ann768_job floor stays, the per-row twins live
        # on in the detail line
        compact["floors"] = {
            k: v for k, v in compact["floors"].items()
            if not k.startswith(("ann768_f16_job", "ann768_f16p_job", "ann768_i8_job"))
        }
        line = emit(compact)
    if len(line) > 1900 and "root_error" in compact:  # 4.9) shorten the
        # root cause BEFORE any catalog median is lost (a missing
        # queries{} key reads as dropped-from-bench; 80 chars still
        # names the failing section and exception class)
        compact["root_error"] = [compact["root_error"][0], compact["root_error"][1][:80]]
        line = emit(compact)
    if len(line) > 1900:  # 4.95) last pre-catalog resort: the dr{}
        # ratios (detail line keeps every one). Only reachable in an
        # error-laden run — the error-free full board fits with dr in.
        compact.pop("dr", None)
        line = emit(compact)
    # 5) shrink the catalog medians to the N slowest until the line
    # fits — a fixed "keep 28" stalled at 1901 B in the r13c run (27
    # queries present, so the cap was a no-op and no later step
    # applied); the loop actually converges
    n_keep = len(plain_queries)
    while len(line) > 1900 and n_keep > 8:
        # r15: shed 2 keys per iteration (was: jump to 28 then -4) —
        # a run with one real error key should lose the MINIMUM number
        # of catalog medians, since a missing queries{} key reads as
        # dropped-from-bench in the round diff
        n_keep -= 2
        compact["queries"] = {
            k: round(v, 2)
            for k, v in sorted(plain_queries.items(), key=lambda kv: -kv[1])[:n_keep]
        }
        line = emit(compact)
    if len(line) > 1900 and len(compact.get("error_keys", [])) > 8:
        # 6) a catastrophic run can mark 40+ rows; drop ONLY the
        # "suppressed:" markers (VERDICT r12 #2 — r12's trim cut the
        # actual 10M root cause out of the frozen artifact). Real
        # failure/skip keys survive, capped at 16 with a count.
        ek = compact["error_keys"]
        sup = [k for k in ek if str(errors.get(k, "")).startswith("suppressed")]
        real = [k for k in ek if k not in sup]
        kept = real[:16] + ([f"+{len(real) - 16} more real (detail line)"] if len(real) > 16 else [])
        if sup:
            kept.append(f"+{len(sup)} suppressed (detail line)")
        compact["error_keys"] = kept
        line = emit(compact)
    if len(line) > 1900 and "root_error" in compact:  # 7) shorten, never drop
        compact["root_error"] = [compact["root_error"][0], compact["root_error"][1][:80]]
        line = emit(compact)
    return line


def _pick_root_error(errors: dict) -> tuple[str, str] | None:
    """The first hard failure, else the first skip — the run's root
    cause in chronological (insertion) order; "suppressed" cascade
    markers never qualify."""
    for pred in (
        lambda v: not v.startswith(("suppressed", "skipped")),
        lambda v: v.startswith("skipped"),
    ):
        for k, v in errors.items():
            if pred(str(v)):
                return k, str(v)
    return None


def emit_checkpoint(
    queries: dict,
    extras: dict,
    errors: dict,
    sf,
    stage: str,
    sentinels: dict | None = None,
) -> None:
    """Flush a mid-run checkpoint artifact line to stdout (VERDICT r12
    #4): the driver parses the FINAL JSON line of its tail capture, so
    each checkpoint supersedes the previous one and a kill -9 between
    sections still leaves every completed row in a parseable artifact.
    When ``sentinels`` is given, family keys the children have not yet
    produced are filled PROVISIONALLY in the emitted line only (same
    provenance marker as apply_sentinel_fallbacks) — r13's driver run
    was externally killed between the tail and dedup children, and the
    measured sentinels never made it into the artifact because the
    real fill only ran after BOTH children. The live dicts are left
    untouched so a child's isolated number still wins when it lands.
    Must never raise — artifact hygiene cannot cost a row."""
    try:
        q, x, e = queries, extras, errors
        if sentinels:
            pending = {k: s for k, s in sentinels.items() if k not in queries}
            if pending:
                q, x, e = dict(queries), dict(extras), dict(errors)
                apply_sentinel_fallbacks(q, x, e, pending, quiet=True)
        line = build_compact_line(q, x, e, sf, partial=stage)
        print(line, flush=True)
        print(f"  checkpoint[{stage}]: {len(line)}B flushed", file=sys.stderr)
    except Exception as ex:  # noqa: BLE001
        print(f"  checkpoint[{stage}] emit failed: {type(ex).__name__}: {ex}", file=sys.stderr)


if __name__ == "__main__":
    main()
