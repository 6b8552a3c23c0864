"""Packed vector storage: the engine's one IVF table writer and its
half-width / SQ8 twins (V10, the reference's bfloat16 table run,
images/results_ridgeback_bfloat16.png / BASELINE.md row 3, re-expressed
for parquet).

Every vector written here is one FIXED_LEN_BYTE_ARRAY value per row —
little-endian float32 (``f32``), float16 (``f16``) or symmetric int8
codes plus a per-vector scale (``sq8``), encoded by the single
``_encode``. Parquet decodes large fixed-width values by bulk memcpy
and the scan-side scorer (``knn_search_parquet``, ``flat_matrix``)
reinterprets the data buffer zero-copy, so narrower codes mean
proportionally fewer scan bytes with an identical query surface.

Parquet has no bfloat16; its native half-width float is FLOAT16, which
carries the same storage/bandwidth trade (half the bytes per element,
~3 decimal digits of mantissa). Spark's JVM reader cannot open FLOAT16
parquet at all ([PARQUET_TYPE_ILLEGAL]) — the packed binary layout
sidesteps that, and the scan scorer reads splits with pyarrow anyway.

Two write shapes, both in python workers so the wide columns never
touch the JVM writer:

* ``write_packed_index`` / ``write_int8_index`` (and
  ``IVFIndex.write_index``, which is ``write_packed_index`` over its
  ``build``): one hash exchange on ``ivf_cluster`` (SQ8 quantizes
  before it), then ``_flba_sink`` writes one file per cluster per
  task, committed by ``_staged_write``.
* ``write_half_table`` / ``write_int8_table``: file-wise twin rewrites
  of an existing table (``_rewrite_table``) — each source file is
  rewritten whole by one task of ``knn._run_splits``' shuffle-free
  stage, so at 100 TB the rewrite parallelizes file-wise. Each output
  file is committed by ``_write_part_file``, as is every shard file of
  ``npy.etl_shards_to_parquet``.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# bytes per vector element of each codec ``_encode`` writes
_ELEM_BYTES = {"f32": 4, "f16": 2, "sq8": 1}


def _infer_dim(col) -> int:
    """Vector dim of a source chunk for the file-wise rewriters: a
    list<float/double> column counts elements; a fixed_size_binary
    column is assumed to be ``write_packed_index``'s packed float32
    (width = 4*dim) — the only FSB layout the rewrite twins read from
    (f16/i8 tables are rewrite OUTPUTS, not inputs)."""
    import pyarrow as pa

    if pa.types.is_fixed_size_binary(col.type):
        return col.type.byte_width // 4
    if len(col) == 0:
        raise ValueError("cannot infer dim: empty row group")
    return len(col.flatten()) // len(col)


def _encode(mat32, codec: str):
    """The one vector-encoding decision of every writer here: an
    (n, dim) float32 matrix -> (packed little-endian codes as bytes,
    per-vector float32 scales or ``None`` when the codec has none).

    ``f32`` and ``f16`` are plain casts. ``sq8`` is symmetric int8
    quantization with scale = max|x| / 127 per vector (codes
    reconstruct as ``code * scale``); zero vectors quantize to all-zero
    codes with scale 1.0 (exact)."""
    import numpy as np

    if codec == "f32":
        return np.ascontiguousarray(mat32, dtype=np.float32).tobytes(), None
    if codec == "f16":
        return np.ascontiguousarray(mat32.astype(np.float16)).tobytes(), None
    if not np.isfinite(mat32).all():
        # NaN/Inf through rint→astype(int8) is undefined in numpy —
        # corrupt codes written silently. Same loud-failure policy as
        # the NULL/ragged checks (ADVICE r9).
        bad = int((~np.isfinite(mat32)).sum())
        raise ValueError(
            f"{bad} non-finite element(s) in vector column; SQ8 "
            "quantization requires finite inputs — clean or clip "
            "the vectors before writing"
        )
    maxabs = np.abs(mat32).max(axis=1)
    scale = np.where(maxabs > 0, maxabs / 127.0, 1.0).astype(np.float32)
    codes = np.clip(np.rint(mat32 / scale[:, None]), -127, 127).astype(np.int8)
    return np.ascontiguousarray(codes).tobytes(), scale


def _rewrite_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    vector_cols: Sequence[str],
    codec: str,
    compression: str,
) -> DataFrame:
    """File-wise twin rewrite behind ``write_half_table`` and
    ``write_int8_table``: each source file is rewritten whole by one
    ``_run_splits`` task, which decodes it with pyarrow row group by
    row group, re-encodes ``vector_cols`` with ``_encode`` and writes
    its output file through ``_write_part_file``. ``sq8`` adds a
    ``{col}_scale`` float32 column per vector column.

    The source's directory tree is PRESERVED relative to ``src_path``:
    a Hive-partitioned layout (e.g. an ``IVFIndex.write_index`` table's
    ``ivf_cluster=K/`` dirs) comes out with the same partition dirs, so
    pruning layers stack on the twin unchanged — the compounding the
    reference gets from running Annoy over its bfloat16 table.

    Local filesystems only (the bench/fixture path); the read side
    (``knn_search_parquet``) also handles remote stores. Returns a
    DataFrame of (path, rows) — one row per written file."""
    from laion_spark.operators.knn import _list_parquet_files, _run_splits, _strip_local

    fs, files, remote = _list_parquet_files([src_path])
    if remote:
        raise NotImplementedError("twin rewrites target local paths (fixture/bench use)")
    # strip the scheme exactly as the listing did: a `file:/` source
    # would otherwise match no listed file and flatten the Hive tree
    root = _strip_local(src_path).rstrip("/")
    tasks = []
    for i, f in enumerate(files):
        rel = f[len(root):].lstrip("/") if f.startswith(root) else f"part-{i:05d}.parquet"
        rel = rel or os.path.basename(f)  # src_path was a single file
        dst = os.path.join(dst_path, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tasks.append((f, dst))
    vcols = list(vector_cols)
    width = _ELEM_BYTES[codec]

    def encoded_row_groups(src):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from laion_spark.operators.knn import flat_matrix

        # stream row-group-wise: a whole-file read_table would hold ~2x
        # the file in one worker's memory (source + cast copy); this
        # keeps peak at one row group
        pf = pq.ParquetFile(src)
        schema = pf.schema_arrow
        # infer each vector column's (fixed) dim from the first row
        # group — the binary width is part of the output schema
        probe = pf.read_row_group(0, columns=vcols)
        dims: dict[str, int] = {c: _infer_dim(probe.column(c).combine_chunks()) for c in vcols}
        for c in vcols:
            i = schema.get_field_index(c)
            schema = schema.set(i, schema.field(i).with_type(pa.binary(width * dims[c])))
            if codec == "sq8":
                schema = schema.append(pa.field(f"{c}_scale", pa.float32()))
        for g in range(pf.metadata.num_row_groups):
            t = pf.read_row_group(g)
            for c in vcols:
                # list<float> OR packed-f32 source; flat_matrix raises on
                # NULL/ragged input
                mat = flat_matrix(t.column(c).combine_chunks(), dims[c], np.float32)
                data, scale = _encode(mat, codec)
                fsb = pa.Array.from_buffers(
                    pa.binary(width * dims[c]), t.num_rows, [None, pa.py_buffer(data)]
                )
                t = t.set_column(t.schema.get_field_index(c), c, fsb)
                if scale is not None:
                    t = t.append_column(f"{c}_scale", pa.array(scale, type=pa.float32()))
            yield t.cast(schema)

    def rewrite(src, dst):
        yield _write_part_file(dst, encoded_row_groups(src), compression)

    return _run_splits(spark, tasks, "src string, dst string", rewrite, "path string, rows long")


def write_half_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    vector_cols: Sequence[str] = ("embedding",),
    compression: str = "snappy",
) -> DataFrame:
    """Rewrite a parquet table with ``vector_cols`` narrowed from
    list<float/double> (or packed float32) to half-width float16 (half
    the vector bytes), one FIXED_LEN_BYTE_ARRAY(2*dim) value per
    vector — the honest analog of the reference's packed bfloat16
    arrays.

    A list<float16> column, by contrast, stores each element as
    FIXED_LEN_BYTE_ARRAY(2), which pyarrow decodes PER VALUE (measured
    10M x 768 on a 32-core host: packed 1.72 s vs list<float16> 5.19 s
    vs float32 3.05 s), so it is not written here; ``knn_search_parquet`` still
    reads such tables. Tree, locality and return value as
    ``_rewrite_table``.
    """
    return _rewrite_table(spark, src_path, dst_path, vector_cols, "f16", compression)


def write_int8_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    vector_cols: Sequence[str] = ("embedding",),
    compression: str = "snappy",
) -> DataFrame:
    """Rewrite a parquet table with ``vector_cols`` scalar-quantized to
    int8 (SQ8, see ``_encode``): each vector becomes a packed
    fixed_size_binary(dim) of codes plus a ``{col}_scale`` float32
    column with its per-vector dequantization factor. 1/4 of the
    float32 bytes — the storage the v13 catalog entry's int8 codes were
    designed to ship to — served by
    ``knn_search_parquet(..., scale_col="{col}_scale")`` and composing
    with IVF partition pruning exactly like the f16 twins (same
    ``_rewrite_table`` scaffold, ``ivf_cluster=K`` dirs preserved).
    """
    return _rewrite_table(spark, src_path, dst_path, vector_cols, "sq8", compression)


def _write_part_file(dst: str, parts, compression: str):
    """Write ``parts`` (Arrow batches or tables; the first one's schema
    is the file's) as the one parquet file ``dst`` and return its
    (path, rows) result batch — the commit of every Python task that
    writes one file. The file is written under a hidden ``_``-prefixed
    sibling name, which every reader skips, and renamed to ``dst`` only
    after ``close()``; on any exception the hidden file is removed, so
    a task that fails mid-write leaves no readable partial file (a
    retried task renames over the same ``dst``). No parts, no file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = os.path.join(os.path.dirname(dst), f"_{uuid.uuid4().hex}-{os.path.basename(dst)}")
    writer = None
    rows = 0
    try:
        for part in parts:
            if writer is None:
                writer = pq.ParquetWriter(tmp, part.schema, compression=compression)
            writer.write(part)
            rows += part.num_rows
        if writer is not None:
            writer.close()
            os.replace(tmp, dst)
    except BaseException:
        if writer is not None:
            writer.close()
            os.remove(tmp)
        raise
    return pa.RecordBatch.from_arrays(
        [pa.array([dst]), pa.array([rows], type=pa.int64())], ["path", "rows"]
    )


@contextmanager
def _staged_write(dst_path: str, mode: str) -> Iterator[str]:
    """Save-mode checks and the commit of one IVF table write. Yields
    the hidden staging dir the sink tasks write into
    (``dst/_staging-<write id>/ivf_cluster=K/part-<partition>.parquet``).

    ``mode`` follows Spark save-mode semantics: ``"error"`` raises when
    ``dst_path`` already has content — writing into a non-empty tree
    could interleave this build's files with a previous build's (e.g. a
    crash-orphaned partial), producing a silently mixed table;
    ``"overwrite"`` removes the existing tree first, as Spark's own
    overwrite does; ``"append"`` adds this write's files to the
    existing tree (one more file per cluster dir) — meant for slices of
    the SAME build or incremental ingest with the same quantizer.
    Every reader (scan_plans, knn_search_parquet) enumerates the dirs.

    The commit keeps the guarantee of Spark's v1 file committer:
    * the ``_`` prefix hides staged files from ``_list_parquet_files``,
      ``scan_plans`` and ``pyarrow.dataset`` while the job runs;
    * a retried task rewrites its own deterministic staging name, so it
      can leave no duplicate;
    * only after every task succeeded does the driver move each file
      to ``ivf_cluster=K/part-<partition>-<write id>.parquet`` — the
      per-write id keeps appends from overwriting each other's files;
    * the staging dir is removed whether the job succeeds or fails, so
      a failed append leaves the table exactly as it was.
    """
    if "://" in dst_path:
        raise NotImplementedError("IVF index writers target local paths (fixture/bench use)")
    if mode not in ("error", "overwrite", "append"):
        raise ValueError("mode must be 'error', 'overwrite' or 'append'")
    if os.path.isdir(dst_path) and os.listdir(dst_path):
        if mode == "error":
            raise FileExistsError(
                f"{dst_path} is non-empty; pass mode='overwrite' to replace it "
                "(mixing a new build into an old tree is never safe)"
            )
        if mode == "overwrite":
            shutil.rmtree(dst_path)
    write_id = uuid.uuid4().hex
    staging = os.path.join(dst_path, f"_staging-{write_id}")
    try:
        yield staging
        os.makedirs(dst_path, exist_ok=True)
        for d, _, names in os.walk(staging):
            for name in names:
                stem, ext = os.path.splitext(name)
                final = os.path.join(dst_path, os.path.relpath(d, staging), f"{stem}-{write_id}{ext}")
                os.makedirs(os.path.dirname(final), exist_ok=True)
                os.replace(os.path.join(d, name), final)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _flba_sink(out_dir: str, code_bytes: int, vector_col: str, row_group_bytes: int):
    """Reduce-side pyarrow writer of every IVF table: groups each batch
    by ``ivf_cluster``, turns the vector column into
    ``fixed_size_binary(code_bytes)`` — a variable-binary column is
    re-typed off the raw buffer, a list<float/double> column (an f32
    write, see ``_write_index``) is packed to float32 — and streams one
    parquet file per cluster this task holds to
    ``out_dir/ivf_cluster=K/part-<partition>.parquet`` (``out_dir`` is
    ``_staged_write``'s staging dir). Yields (``ivf_cluster=K``, rows)
    per file.

    The wide bytes never touch the JVM writer — the whole point:
    Spark's parquet writer assembles list<float> row by row, which
    dominated the 8M ivf rebuild's 300-600 s before this path existed.
    The width check validates binary input that comes from outside the
    writer (already-packed vectors reach the sink untouched).

    Memory: a cluster's pending pieces flush into a row group once they
    reach ``row_group_bytes``, so a task buffers at most about
    ``row_group_bytes`` × the clusters it holds."""
    import pyarrow as pa

    def sink(batches):
        import numpy as np
        import pyarrow.parquet as pq

        from laion_spark.operators.knn import flat_matrix

        writers: dict[int, pq.ParquetWriter] = {}
        pending: dict[int, list] = {}
        pend_bytes: dict[int, int] = {}
        rows: dict[int, int] = {}

        def to_fixed(col):
            arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
            if not pa.types.is_binary(arr.type):
                # flat_matrix raises on NULL or ragged vectors
                data, _ = _encode(flat_matrix(arr, code_bytes // 4, np.float32), "f32")
                return pa.Array.from_buffers(
                    pa.binary(code_bytes), len(arr), [None, pa.py_buffer(data)]
                )
            if arr.null_count:
                raise ValueError("NULL vector in an IVF table write")
            m = len(arr)
            off = np.frombuffer(
                arr.buffers()[1], np.int32, count=m + 1, offset=arr.offset * 4
            )
            if m and not (np.diff(off) == code_bytes).all():
                raise ValueError(f"non-uniform code widths (expected {code_bytes} B)")
            start = int(off[0]) if m else 0
            buf = pa.py_buffer(
                memoryview(arr.buffers()[2])[start:start + m * code_bytes]
            )
            return pa.Array.from_buffers(pa.binary(code_bytes), m, [None, buf])

        def flush(cid):
            tbl = pa.Table.from_batches(pending[cid])
            tbl = tbl.remove_column(tbl.schema.get_field_index("ivf_cluster"))
            vi2 = tbl.schema.get_field_index(vector_col)
            tbl = tbl.set_column(vi2, vector_col, to_fixed(tbl.column(vector_col)))
            if cid not in writers:
                d = os.path.join(out_dir, f"ivf_cluster={cid}")
                os.makedirs(d, exist_ok=True)
                from pyspark import TaskContext

                ctx = TaskContext.get()
                pid = ctx.partitionId() if ctx else 0
                writers[cid] = pq.ParquetWriter(
                    os.path.join(d, f"part-{pid:05d}.parquet"),
                    tbl.schema,
                    compression="snappy",
                )
            writers[cid].write_table(tbl)
            rows[cid] = rows.get(cid, 0) + tbl.num_rows
            pending[cid] = []
            pend_bytes[cid] = 0

        for rb in batches:
            if rb.num_rows == 0:
                continue
            ci = rb.schema.get_field_index("ivf_cluster")
            cids = rb.column(ci).to_numpy(zero_copy_only=False)
            order = np.argsort(cids, kind="stable")
            srb = rb.take(pa.array(order))
            cids = cids[order]
            cuts = np.flatnonzero(np.diff(cids))
            starts = [0, *(int(c) + 1 for c in cuts)]
            ends = [*(int(c) + 1 for c in cuts), len(cids)]
            for s, e in zip(starts, ends):
                cid = int(cids[s])
                piece = srb.slice(s, e - s)
                pending.setdefault(cid, []).append(piece)
                pend_bytes[cid] = pend_bytes.get(cid, 0) + piece.nbytes
                if pend_bytes[cid] >= row_group_bytes:
                    flush(cid)
        for cid, lst in list(pending.items()):
            if lst:
                flush(cid)
        for w in writers.values():
            w.close()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([f"ivf_cluster={cid}" for cid in writers], type=pa.string()),
                pa.array([rows[cid] for cid in writers], type=pa.int64()),
            ],
            ["path", "rows"],
        )

    return sink


def _write_index(
    df: DataFrame,
    dst_path: str,
    dim: int,
    codec: str,
    vector_col: str,
    row_group_bytes: int,
    mode: str,
) -> list:
    """The one IVF table write body: hash-partition on ``ivf_cluster``
    — which sends every cluster wholly to one task, so each write adds
    exactly one file per cluster dir — and write through ``_flba_sink``
    under ``_staged_write``'s commit. Returns (cluster_dir, rows)
    tuples.

    ``sq8`` quantizes map-side, BEFORE the cluster exchange, so the
    shuffle ships ~dim bytes/row instead of 4*dim. ``f32`` has no
    map-side step: packing would not shrink the exchange, and another
    ``mapInArrow`` is another Python worker per task (measured on the
    ingest benchmark: +0.4 GB peak RSS on 4 cores), so the sink packs
    list input itself."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from laion_spark.session import _ship_package

    names = [f.name for f in df.schema.fields]
    if vector_col not in names or "ivf_cluster" not in names:
        raise ValueError(f"df must carry {vector_col!r} and 'ivf_cluster'")
    spark = df.sparkSession
    _ship_package(spark)
    code_bytes = _ELEM_BYTES[codec] * dim
    if codec == "sq8":
        scale_col = f"{vector_col}_scale"
        # variable binary on the way through Spark (it has no
        # fixed-width type); the sink re-types it off the raw buffer
        q_schema = ", ".join(
            f"`{f.name}` {'binary' if f.name == vector_col else f.dataType.simpleString()}"
            for f in df.schema.fields
        ) + f", `{scale_col}` float"

        def quantize(batches):
            import numpy as np

            from laion_spark.operators.knn import flat_matrix

            for rb in batches:
                n = rb.num_rows
                if n == 0:
                    continue
                vi = rb.schema.get_field_index(vector_col)
                codes, scale = _encode(flat_matrix(rb.column(vi), dim, np.float32), codec)
                offs = np.arange(0, (n + 1) * code_bytes, code_bytes, dtype=np.int32)
                arrays = [rb.column(i) for i in range(rb.num_columns)]
                arrays[vi] = pa.Array.from_buffers(
                    pa.binary(), n, [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(codes)]
                )
                arrays.append(pa.array(scale, type=pa.float32()))
                yield pa.RecordBatch.from_arrays(arrays, names + [scale_col])

        df = df.mapInArrow(quantize, q_schema)

    with _staged_write(dst_path, mode) as staging:
        written = (
            df.repartition(spark.sparkContext.defaultParallelism, F.col("ivf_cluster"))
            .mapInArrow(
                _flba_sink(staging, code_bytes, vector_col, row_group_bytes),
                "path string, rows long",
            )
            .collect()
        )
    return [(os.path.join(dst_path, r.path), r.rows) for r in written]


def write_packed_index(
    df: DataFrame,
    dst_path: str,
    dim: int,
    vector_col: str = "embedding",
    row_group_bytes: int = 8 * 1024 * 1024,
    mode: str = "error",
) -> list:
    """Write a partition-pruned FULL-PRECISION ANN table over an
    already-assigned DataFrame (``ivf_cluster`` stamped, e.g.
    ``IVFIndex.build`` output), vectors packed as
    ``fixed_size_binary(4*dim)`` little-endian float32 under
    ``dst_path/ivf_cluster=K/``. ``IVFIndex.write_index`` is this call.

    Why this layout: Spark's JVM parquet writer assembles 768-element
    lists row by row — the dominant cost of the 8M ivf (re)build
    (300-600 s measured r11-r13) and about half of each perfbench
    ingest append. The packed layout holds the same float32 bits but is
    written as bulk fixed-width values from the python workers, and the
    read side (``flat_matrix``) reinterprets the data buffer zero-copy
    (parity cousin: the reference stores packed float arrays in its
    native format; see SURVEY §2.3 V9/V10).

    ``row_group_bytes`` is the probe's (file, row_group) split
    granularity (see the IVFIndex docstring). Save modes and the staged
    commit: ``_staged_write``. Local paths only (executors open the
    destination with the posix API). Returns (cluster_dir, rows)
    tuples."""
    return _write_index(df, dst_path, dim, "f32", vector_col, row_group_bytes, mode)


def write_int8_index(
    df: DataFrame,
    dst_path: str,
    dim: int,
    vector_col: str = "embedding",
    row_group_bytes: int = 8 * 1024 * 1024,
    mode: str = "error",
) -> list:
    """SQ8-quantize and write a partition-pruned ANN table in ONE pass
    over an already-assigned DataFrame — the quantize-on-ingest shape
    for corpora where a float32 copy never exists on disk. Quantizing
    before the cluster exchange ships ~dim bytes/row, 1/4 of what a
    float32 write plus a rewrite would move.

    Byte-compatible with ``write_int8_table``'s layout (same
    ``_encode``): ``fixed_size_binary(dim)`` codes plus
    ``{vector_col}_scale``, served by ``knn_search_parquet(...,
    scale_col=...)`` and ``IVFIndex.search_parquet`` unchanged. Same
    write body, save modes and commit as ``write_packed_index``."""
    return _write_index(df, dst_path, dim, "sq8", vector_col, row_group_bytes, mode)
