"""V10 half-width vector storage (the reference's bfloat16 table run,
images/results_ridgeback_bfloat16.png / BASELINE.md row 3, re-expressed
for parquet).

Parquet has no bfloat16; its native half-width float is FLOAT16, which
carries the same storage/bandwidth trade (half the bytes per element,
~3 decimal digits of mantissa). Spark's JVM reader cannot open FLOAT16
parquet at all ([PARQUET_TYPE_ILLEGAL]) — but this engine's scan-side
scorer (``knn_search_parquet``) reads splits with pyarrow, which
decodes halffloat natively and upcasts to float32 in numpy, so the
half-width table is a drop-in for vector search: half the scan bytes,
identical query surface.

The rewrite itself is distributed scan-side too: one task per source
file, each decoding with pyarrow, casting the vector columns, and
writing its output file directly — the wide columns never touch the
JVM, and at 100 TB the rewrite parallelizes file-wise with no shuffle.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


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


def write_half_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    vector_cols: Sequence[str] = ("embedding",),
    compression: str = "snappy",
) -> DataFrame:
    """Rewrite a parquet table with ``vector_cols`` narrowed from
    list<float/double> (or packed float32) to half-width float16 (half
    the vector bytes).

    Each vector is written as one FIXED_LEN_BYTE_ARRAY(2*dim) value —
    little-endian float16, the whole vector as one value. Parquet
    decodes large fixed-width values by bulk memcpy and the scorer
    reinterprets the data buffer with numpy (zero-copy frombuffer), so
    the scan runs at full-width byte speed on half the bytes — the
    honest analog of the reference's packed bfloat16 arrays. A
    list<float16> column, by contrast, stores each element as
    FIXED_LEN_BYTE_ARRAY(2), which pyarrow decodes PER VALUE (measured
    10M x 768 on a 32-core host: packed 1.72 s vs list<float16> 5.19 s
    vs float32 3.05 s), so it is not written here; ``knn_search_parquet`` still
    reads such tables.

    Local filesystems only (the bench/fixture path); the read side
    (``knn_search_parquet``) also handles remote stores. Returns a
    DataFrame of (path, rows) — one row per written file.

    The source's directory tree is PRESERVED relative to ``src_path``:
    a Hive-partitioned layout (e.g. an ``IVFIndex.write_index`` table's
    ``ivf_cluster=K/`` dirs) comes out with the same partition dirs, so
    pruning layers stack on the half-width twin unchanged — the
    compounding the reference gets from running Annoy over its bfloat16
    table.
    """
    from laion_spark.operators.knn import _list_parquet_files
    from laion_spark.session import _ship_package

    _ship_package(spark)
    fs, files, remote = _list_parquet_files([src_path])
    if remote:
        raise NotImplementedError("write_half_table targets local paths (fixture/bench use)")
    root = src_path[7:] if src_path.startswith("file:///") else src_path
    root = root.rstrip("/")
    tasks = []
    for i, f in enumerate(files):
        rel = f[len(root):].lstrip("/") if f.startswith(root) else f"part-{i:05d}.parquet"
        rel = rel or os.path.basename(f)  # src_path was a single file
        dst = os.path.join(dst_path, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tasks.append((f, dst))
    vcols = list(vector_cols)

    def conv(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        def pack_chunk(ch, dim):
            # list<float> OR packed-f32 chunk -> fixed_size_binary(2*dim)
            # of packed little-endian float16 (one bulk astype + buffer
            # wrap); flat_matrix handles both source layouts and raises
            # on NULL/ragged input
            from laion_spark.operators.knn import flat_matrix

            n = len(ch)
            flat = flat_matrix(ch, dim, np.float32)
            data = np.ascontiguousarray(flat.astype(np.float16)).tobytes()
            return pa.Array.from_buffers(pa.binary(2 * dim), n, [None, pa.py_buffer(data)])

        for rb in batches:
            for src, dst in zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()):
                # stream row-group-wise: a whole-file read_table would
                # hold ~2x the file in one worker's memory (source +
                # cast copy); this keeps peak at one row group
                pf = pq.ParquetFile(src)
                schema = pf.schema_arrow
                # infer each vector column's (fixed) dim from the
                # first row group — the binary width is part of the
                # output schema, needed before the writer opens
                probe = pf.read_row_group(0, columns=vcols)
                dims: dict[str, int] = {
                    c: _infer_dim(probe.column(c).combine_chunks()) for c in vcols
                }
                for c in vcols:
                    i = schema.get_field_index(c)
                    schema = schema.set(i, schema.field(i).with_type(pa.binary(2 * dims[c])))
                rows = 0
                with pq.ParquetWriter(dst, schema, compression=compression) as w:
                    for g in range(pf.metadata.num_row_groups):
                        t = pf.read_row_group(g)
                        for c in vcols:
                            i = t.schema.get_field_index(c)
                            col = t.column(c).combine_chunks()
                            t = t.set_column(i, c, pack_chunk(col, dims[c]))
                        w.write_table(t.cast(schema))
                        rows += t.num_rows
                yield pa.RecordBatch.from_arrays(
                    [pa.array([dst]), pa.array([rows], type=pa.int64())],
                    ["path", "rows"],
                )

    n = len(tasks)
    jobs = spark.createDataFrame(tasks, "src string, dst string")
    if n > 1:
        jobs = jobs.repartition(min(n, spark.sparkContext.defaultParallelism))
    return jobs.mapInArrow(conv, "path string, rows long")


def write_int8_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    vector_cols: Sequence[str] = ("embedding",),
    compression: str = "snappy",
) -> DataFrame:
    """Rewrite a parquet table with ``vector_cols`` scalar-quantized to
    int8 (SQ8): each vector becomes a packed fixed_size_binary(dim) of
    symmetric int8 codes plus a ``{col}_scale`` float32 column with its
    per-vector dequantization factor (max|x| / 127; codes reconstruct
    as ``code * scale``). 1/4 of the float32 bytes — the storage the
    v13 catalog entry's int8 codes were designed to ship to — served by
    ``knn_search_parquet(..., scale_col="{col}_scale")`` and composing
    with IVF partition pruning exactly like the f16 twins (the source's
    directory tree, including ``ivf_cluster=K`` dirs, is preserved).

    Zero vectors quantize to all-zero codes with scale 1.0 (exact).
    Same file-wise distributed rewrite shape as ``write_half_table``:
    one task per source file, no shuffle, wide columns never in the JVM.
    """
    from laion_spark.operators.knn import _list_parquet_files
    from laion_spark.session import _ship_package

    _ship_package(spark)
    fs, files, remote = _list_parquet_files([src_path])
    if remote:
        raise NotImplementedError("write_int8_table targets local paths (fixture/bench use)")
    root = src_path[7:] if src_path.startswith("file:///") else src_path
    root = root.rstrip("/")
    tasks = []
    for i, f in enumerate(files):
        rel = f[len(root):].lstrip("/") if f.startswith(root) else f"part-{i:05d}.parquet"
        rel = rel or os.path.basename(f)
        dst = os.path.join(dst_path, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tasks.append((f, dst))
    vcols = list(vector_cols)

    def conv(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from laion_spark.operators.knn import flat_matrix

        def quantize_chunk(ch, dim):
            mat = flat_matrix(ch, dim, np.float32)
            n = len(ch)
            if not np.isfinite(mat).all():
                # NaN/Inf through rint→astype(int8) is undefined in
                # numpy — corrupt codes written silently. Same loud-
                # failure policy as the NULL/ragged checks (ADVICE r9).
                bad = int((~np.isfinite(mat)).sum())
                raise ValueError(
                    f"{bad} non-finite element(s) in vector column; SQ8 "
                    "quantization requires finite inputs — clean or clip "
                    "the vectors before write_int8_table"
                )
            maxabs = np.abs(mat).max(axis=1)
            scale = np.where(maxabs > 0, maxabs / 127.0, 1.0).astype(np.float32)
            codes = np.clip(np.rint(mat / scale[:, None]), -127, 127).astype(np.int8)
            fsb = pa.Array.from_buffers(
                pa.binary(dim), n, [None, pa.py_buffer(np.ascontiguousarray(codes).tobytes())]
            )
            return fsb, pa.array(scale, type=pa.float32())

        for rb in batches:
            for src, dst in zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()):
                pf = pq.ParquetFile(src)
                schema = pf.schema_arrow
                probe = pf.read_row_group(0, columns=vcols)
                dims: dict[str, int] = {
                    c: _infer_dim(probe.column(c).combine_chunks()) for c in vcols
                }
                for c in vcols:
                    i = schema.get_field_index(c)
                    schema = schema.set(i, schema.field(i).with_type(pa.binary(dims[c])))
                    schema = schema.append(pa.field(f"{c}_scale", pa.float32()))
                rows = 0
                with pq.ParquetWriter(dst, schema, compression=compression) as w:
                    for g in range(pf.metadata.num_row_groups):
                        t = pf.read_row_group(g)
                        for c in vcols:
                            i = t.schema.get_field_index(c)
                            fsb, sc = quantize_chunk(t.column(c).combine_chunks(), dims[c])
                            t = t.set_column(i, c, fsb)
                            t = t.append_column(f"{c}_scale", sc)
                        w.write_table(t.cast(schema))
                        rows += t.num_rows
                yield pa.RecordBatch.from_arrays(
                    [pa.array([dst]), pa.array([rows], type=pa.int64())],
                    ["path", "rows"],
                )

    n = len(tasks)
    jobs = spark.createDataFrame(tasks, "src string, dst string")
    if n > 1:
        jobs = jobs.repartition(min(n, spark.sparkContext.defaultParallelism))
    return jobs.mapInArrow(conv, "path string, rows long")


def write_int8_index(
    df: DataFrame,
    dst_path: str,
    dim: int,
    vector_col: str = "embedding",
    cluster_col: str = "ivf_cluster",
    n_partitions: int | None = None,
    row_group_bytes: int = 8 * 1024 * 1024,
    compression: str = "snappy",
    mode: str = "error",
    file_tag: str = "",
) -> list:
    """SQ8-quantize and write a partition-pruned ANN table in ONE pass
    over an already-assigned DataFrame (``cluster_col`` stamped, e.g.
    ``IVFIndex.build`` output) — the quantize-on-ingest shape for
    corpora where a float32 copy never exists on disk.

    The map side quantizes each vector to symmetric int8 codes + a
    per-vector float32 scale (identical math to ``write_int8_table``,
    including the non-finite raise) BEFORE the cluster exchange, so the
    shuffle ships ~dim bytes/row — 1/4 of what ``IVFIndex.write_index``
    + a rewrite would move, with no intermediate f32 table at all.
    Each reduce task then writes one ``fixed_size_binary(dim)`` parquet
    file per cluster it holds under ``dst_path/ivf_cluster=K/`` —
    byte-compatible with ``write_int8_table``'s layout, served by
    ``knn_search_parquet(..., scale_col=...)`` and
    ``IVFIndex.search_parquet`` unchanged. ``row_group_bytes`` keeps
    the probe's (file, row_group) split granularity (see IVFIndex
    docstring). Hash partitioning on ``cluster_col`` sends every
    cluster wholly to one task, so each dir gets exactly one file.

    Local paths only, like ``write_int8_table`` (executors open the
    destination with the posix API; at 100 TB this becomes an
    object-store multipart writer — the pass structure is unchanged).
    Returns (cluster_dir, rows) summary tuples.

    ``mode`` follows Spark save-mode semantics: ``"error"`` (default)
    raises when ``dst_path`` already has content — writing into a
    non-empty tree could interleave this build's files with a previous
    build's (e.g. a crash-orphaned partial written under a different
    partition count), producing a silently mixed table; ``"overwrite"``
    removes the existing tree first; ``"append"`` writes into the
    existing tree and is meant ONLY for sliced writes of the SAME
    build (same quantizer, same layout — disjoint id ranges appended
    pass by pass so one pass's shuffle transient, not the whole
    table's, bounds peak disk). Append callers MUST pass a per-pass
    unique ``file_tag`` (e.g. ``"-s1"``): task partition ids repeat
    across passes, so untagged filenames would silently overwrite the
    previous slice's files. Multiple files per cluster dir are fine —
    every reader (scan_plans, knn_search_parquet) enumerates the dir.
    """
    import shutil

    import numpy as np
    import pyarrow as pa

    from laion_spark.session import _ship_package

    if "://" in dst_path:
        raise NotImplementedError("write_int8_index targets local paths (fixture/bench use)")
    if mode not in ("error", "overwrite", "append"):
        raise ValueError("mode must be 'error', 'overwrite' or 'append'")
    if mode == "append" and not file_tag:
        raise ValueError(
            "append mode requires a per-pass unique file_tag — partition "
            "ids repeat across passes, so untagged filenames would "
            "overwrite the previous slice's files"
        )
    if os.path.isdir(dst_path) and os.listdir(dst_path):
        if mode == "error":
            raise FileExistsError(
                f"{dst_path} is non-empty; pass mode='overwrite' to replace it "
                "(mixing a new build into an old tree is never safe)"
            )
        if mode == "overwrite":
            shutil.rmtree(dst_path)
    spark = df.sparkSession
    _ship_package(spark)
    names = [f.name for f in df.schema.fields]
    if vector_col not in names or cluster_col not in names:
        raise ValueError(f"df must carry {vector_col!r} and {cluster_col!r}")
    scale_col = f"{vector_col}_scale"

    out_parts = []
    for f in df.schema.fields:
        t = "binary" if f.name == vector_col else f.dataType.simpleString()
        out_parts.append(f"`{f.name}` {t}")
    out_parts.append(f"`{scale_col}` float")
    quant_schema = ", ".join(out_parts)
    out_names = names + [scale_col]

    def quantize(batches):
        import numpy as np

        from laion_spark.operators.knn import flat_matrix

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            vi = rb.schema.get_field_index(vector_col)
            mat = flat_matrix(rb.column(vi), dim, np.float32)
            if not np.isfinite(mat).all():
                bad = int((~np.isfinite(mat)).sum())
                raise ValueError(
                    f"{bad} non-finite element(s) in vector column; SQ8 "
                    "quantization requires finite inputs"
                )
            maxabs = np.abs(mat).max(axis=1)
            scale = np.where(maxabs > 0, maxabs / 127.0, 1.0).astype(np.float32)
            codes = np.ascontiguousarray(
                np.clip(np.rint(mat / scale[:, None]), -127, 127).astype(np.int8)
            )
            # variable binary here (Spark has no fixed-width type); the
            # sink re-types to fixed_size_binary(dim) off the raw buffer
            offs = np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
            bin_arr = pa.Array.from_buffers(
                pa.binary(), n,
                [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(codes.tobytes())],
            )
            arrays = [rb.column(i) for i in range(rb.num_columns)]
            arrays[vi] = bin_arr
            arrays.append(pa.array(scale, type=pa.float32()))
            yield pa.RecordBatch.from_arrays(arrays, out_names)

    sink = _flba_sink(
        dst_path, dim, cluster_col, vector_col, row_group_bytes, compression, file_tag
    )

    from pyspark.sql import functions as F

    n_parts = n_partitions or spark.sparkContext.defaultParallelism
    written = (
        df.mapInArrow(quantize, quant_schema)
        .repartition(n_parts, F.col(cluster_col))
        .mapInArrow(sink, "path string, rows long")
        .collect()
    )
    return [(r.path, r.rows) for r in written]


def _flba_sink(
    dst_path: str,
    code_bytes: int,
    cluster_col: str,
    vector_col: str,
    row_group_bytes: int,
    compression: str,
    file_tag: str,
):
    """Reduce-side pyarrow writer shared by ``write_int8_index``
    (``code_bytes = dim``) and ``write_packed_index`` (``4*dim``):
    groups each batch by cluster id, re-types the variable-binary
    vector column to ``fixed_size_binary(code_bytes)`` off the raw
    buffer, and streams one parquet file per cluster this task holds —
    the wide bytes never touch the JVM writer (the whole point: Spark's
    parquet writer assembles list<float> row by row, which dominated
    the 8M ivf rebuild's 300-600 s before this path existed)."""
    import pyarrow as pa

    def sink(batches):
        import numpy as np
        import pyarrow.parquet as pq

        writers: dict[int, pq.ParquetWriter] = {}
        pending: dict[int, list] = {}
        pend_bytes: dict[int, int] = {}
        rows: dict[int, int] = {}

        def to_fixed(col):
            arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
            if arr.null_count:
                raise ValueError("NULL vector after quantization")
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
            tbl = tbl.remove_column(tbl.schema.get_field_index(cluster_col))
            vi2 = tbl.schema.get_field_index(vector_col)
            tbl = tbl.set_column(vi2, vector_col, to_fixed(tbl.column(vector_col)))
            if cid not in writers:
                d = os.path.join(dst_path, f"{cluster_col}={cid}")
                os.makedirs(d, exist_ok=True)
                from pyspark import TaskContext

                ctx = TaskContext.get()
                pid = ctx.partitionId() if ctx else 0
                writers[cid] = pq.ParquetWriter(
                    os.path.join(d, f"part-{pid:05d}{file_tag}.parquet"),
                    tbl.schema,
                    compression=compression,
                )
            writers[cid].write_table(tbl)
            rows[cid] = rows.get(cid, 0) + tbl.num_rows
            pending[cid] = []
            pend_bytes[cid] = 0

        for rb in batches:
            if rb.num_rows == 0:
                continue
            ci = rb.schema.get_field_index(cluster_col)
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
        out_paths, out_rows = [], []
        for cid, w in writers.items():
            w.close()
            out_paths.append(os.path.join(dst_path, f"{cluster_col}={cid}"))
            out_rows.append(rows[cid])
        yield pa.RecordBatch.from_arrays(
            [pa.array(out_paths, type=pa.string()), pa.array(out_rows, type=pa.int64())],
            ["path", "rows"],
        )

    return sink


def write_packed_index(
    df: DataFrame,
    dst_path: str,
    dim: int,
    vector_col: str = "embedding",
    cluster_col: str = "ivf_cluster",
    n_partitions: int | None = None,
    row_group_bytes: int = 8 * 1024 * 1024,
    compression: str = "snappy",
    mode: str = "error",
    file_tag: str = "",
) -> list:
    """Write a partition-pruned FULL-PRECISION ANN table with vectors
    packed as ``fixed_size_binary(4*dim)`` little-endian float32 — the
    f32 sibling of ``write_int8_index`` (same one-pass shape: map-side
    pack → cluster exchange of plain binary → pyarrow FLBA sink; same
    directory layout; no scale column because nothing is quantized).

    Why this exists (r14): ``IVFIndex.write_index`` writes list<float>
    through Spark's JVM parquet writer, which assembles the 768-element
    lists row by row — the dominant cost of the 8M ivf (re)build
    (300-600 s measured r11-r13). The packed layout moves the same f32
    bytes but writes them as bulk fixed-width values from the python
    workers, and the read side (``flat_matrix``) reinterprets the data
    buffer zero-copy, so scans get the same treatment as the packed
    f16 twin (measured there: packed beats even the f32 list scan).
    Same float32 values either way — only the physical encoding
    changes (parity cousin: reference stores packed float arrays in
    its native format; see SURVEY §2.3 V9/V10).

    Save-mode/append/file_tag semantics are identical to
    ``write_int8_index`` (see its docstring). Returns (cluster_dir,
    rows) tuples."""
    import shutil

    import pyarrow as pa

    from laion_spark.session import _ship_package

    if "://" in dst_path:
        raise NotImplementedError("write_packed_index targets local paths (fixture/bench use)")
    if mode not in ("error", "overwrite", "append"):
        raise ValueError("mode must be 'error', 'overwrite' or 'append'")
    if mode == "append" and not file_tag:
        raise ValueError(
            "append mode requires a per-pass unique file_tag — partition "
            "ids repeat across passes, so untagged filenames would "
            "overwrite the previous slice's files"
        )
    if os.path.isdir(dst_path) and os.listdir(dst_path):
        if mode == "error":
            raise FileExistsError(
                f"{dst_path} is non-empty; pass mode='overwrite' to replace it "
                "(mixing a new build into an old tree is never safe)"
            )
        if mode == "overwrite":
            shutil.rmtree(dst_path)
    spark = df.sparkSession
    _ship_package(spark)
    names = [f.name for f in df.schema.fields]
    if vector_col not in names or cluster_col not in names:
        raise ValueError(f"df must carry {vector_col!r} and {cluster_col!r}")

    out_parts = []
    for f in df.schema.fields:
        t = "binary" if f.name == vector_col else f.dataType.simpleString()
        out_parts.append(f"`{f.name}` {t}")
    pack_schema = ", ".join(out_parts)

    def pack(batches):
        import numpy as np

        from laion_spark.operators.knn import flat_matrix

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            vi = rb.schema.get_field_index(vector_col)
            vcol = rb.column(vi)
            if pa.types.is_binary(vcol.type) and not vcol.null_count:
                # already-packed input (e.g. synth_df(packed=True) →
                # assign): widths are validated downstream by the
                # sink's to_fixed; pass the bytes through untouched
                yield rb
                continue
            mat = np.ascontiguousarray(
                flat_matrix(vcol, dim, np.float32), dtype=np.float32
            )
            offs = np.arange(0, (n + 1) * 4 * dim, 4 * dim, dtype=np.int32)
            bin_arr = pa.Array.from_buffers(
                pa.binary(), n,
                [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(mat.tobytes())],
            )
            arrays = [rb.column(i) for i in range(rb.num_columns)]
            arrays[vi] = bin_arr
            yield pa.RecordBatch.from_arrays(arrays, names)

    sink = _flba_sink(
        dst_path, 4 * dim, cluster_col, vector_col, row_group_bytes, compression, file_tag
    )

    from pyspark.sql import functions as F

    n_parts = n_partitions or spark.sparkContext.defaultParallelism
    written = (
        df.mapInArrow(pack, pack_schema)
        .repartition(n_parts, F.col(cluster_col))
        .mapInArrow(sink, "path string, rows long")
        .collect()
    )
    return [(r.path, r.rows) for r in written]
