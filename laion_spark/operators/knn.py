"""Top-k vector search — the reference's canonical query (SURVEY.md V7).

Reference shape (search.py:20-35):
    SELECT url, caption, L2Distance(<emb>, <qvec>) AS score
    FROM <table> [WHERE <filter>] ORDER BY score ASC LIMIT <k>

Plan (both scorers share it):
    ParquetScan(pruned columns, pushed filters)
      -> Filter(<filter>)            # cheap predicate BELOW scoring
      -> score projection            # see scorer note below
      -> TakeOrderedAndProject(k)    # per-partition top-k + k-row
                                     # reduce; NO global sort, NO
                                     # data-row shuffle
      -> Project(score = sqrt(s2))   # sqrt on the k survivors only

Scorers — chosen by the query's type, with no option:

  - a literal query vector (a sequence of floats) is scored by
    ``mapInArrow``: Arrow record batches flattened zero-copy into an
    (n x dim) numpy matrix, distances via BLAS-grade vectorized ops,
    (ids..., score) batches returned. Partition-local, no shuffle, and
    the plan is the same for every query vector.
  - a ``Column`` query vector (concept math over columns) is scored by
    Catalyst's higher-order array functions (``zip_with``/
    ``aggregate``). They run interpreted, element-at-a-time with
    boxing, so this path is for column-valued queries and is the
    tests' independent reference for the Arrow scorer.

Why not unroll a literal query into per-element JVM expressions
(whole-stage codegen, no Python boundary)? Every query vector is a new
literal, so every query pays a fresh expression build and Janino
compile, and past ~2,048 dims the generated code outgrows the JVM's
64 KB method limit and runs interpreted. Measured on a 4-core host
(list<float> parquet, filter ``h >= 100``, a fresh query vector per
call, warm calls). The 16,384 x 768 ``mapInArrow`` cell is from a
``get_session`` session, whose workers no longer re-read Spark's zip
archives per task (``laion_spark.pydaemon``; 0.8-1.15 s without it);
the other ``mapInArrow`` cells still include that ~0.3 s per task:

  =============  ================  ==========  =========
  rows x dim     unrolled codegen  mapInArrow  HOF
  =============  ================  ==========  =========
  16,384 x 768   8.9-10.7 s        0.5-0.8 s   1.1-1.3 s
  131,072 x 768  12.4-14.5 s       1.5-1.9 s   not run
  16,384 x 3072  62-77 s           1.5-2.9 s   not run
  =============  ================  ==========  =========

The monotonic-distance rewrite (sort on squared distance, sqrt after
the limit) and filter-before-score ordering are constructed here
(SURVEY.md §4.2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from laion_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2_distance_sq,
)

_METRICS = {"l2", "cosine", "dot"}

#: above this many (file, row_group) splits the scan scorer ships the
#: task table through a tiny shuffle instead of the task closure — the
#: closure is broadcast with the task binary, so a 10^6-split listing
#: (100 TB table) would bloat every stage submission
_TASKS_INLINE_MAX = 65536


def knn_search(
    df: DataFrame,
    query_vec: Sequence[float] | Column,
    k: int = 10,
    vector_col: str = "image_embedding",
    filter: str | Column | None = None,
    select: Sequence[str] | None = None,
    metric: str = "l2",
    score_col: str = "score",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Brute-force exact top-k nearest neighbors.

    A literal ``query_vec`` is scored by the Arrow scorer, a ``Column``
    by the Catalyst HOF path (see the module docstring). ``tiebreak``
    columns make the result total-ordered (needed for cross-engine
    comparison; the reference's ORDER BY score alone is ambiguous on
    ties).
    """
    if metric not in _METRICS:
        raise ValueError(f"metric must be one of {_METRICS}, got {metric!r}")
    if filter is not None:
        df = df.filter(filter)
    cols = list(select) if select is not None else [c for c in df.columns if c != vector_col]

    if not isinstance(query_vec, Column):
        scored = _arrow_scored(df, list(query_vec), vector_col, cols, metric)
    else:
        if metric == "l2":
            raw = l2_distance_sq(F.col(vector_col), query_vec)
        elif metric == "cosine":
            raw = cosine_similarity(F.col(vector_col), query_vec)
        else:
            raw = dot(F.col(vector_col), query_vec)
        scored = df.select(*cols, raw.alias("_raw"))

    return _finish_topk(scored, metric, k, score_col, tiebreak)


def _finish_topk(
    scored: DataFrame, metric: str, k: int, score_col: str, tiebreak: Sequence[str]
) -> DataFrame:
    """Shared ordering/finishing tail for every scorer: NULL scores
    last (NULL embeddings must not displace real neighbors — Spark's
    plain asc is NULLS FIRST), sqrt applied to the k survivors only."""
    if metric == "l2":
        order = [F.col("_raw").asc_nulls_last()]
        finish = F.sqrt(F.col("_raw"))
    else:
        order = [F.col("_raw").desc_nulls_last()]
        finish = F.col("_raw")
    order += [F.col(c).asc() for c in tiebreak]
    topk = scored.orderBy(*order).limit(k)
    return topk.withColumn(score_col, finish).drop("_raw")


def _scale_rows_inplace(mat, scales):
    """Per-row dequantize ``mat * scales[:, None]`` IN PLACE when the
    matrix owns its buffer (r15, guide §5): an SQ8/f16 source always
    decodes through an ``astype`` copy (owned, writeable), so mutating
    it saves a second (rows x dim) temporary per Arrow batch — on this
    host fresh large allocations are the measured first-touch-fault
    surface, and at 10M x 768 the out-of-place form wrote an extra
    ~30 GB per scan. Zero-copy views (packed f32 reinterpreting the
    Arrow buffer — never paired with scales in practice, but callers
    may pass any table) fall back to the allocating form rather than
    corrupt a shared buffer. Values are identical either way: the same
    element-wise multiply, rounded once."""
    sc = scales.astype(mat.dtype, copy=False)[:, None]
    if mat.flags.owndata and mat.flags.writeable:
        mat *= sc
        return mat
    return mat * sc


def flat_matrix(vcol, dim: int, dtype=None):
    """Arrow list column -> (n, dim) matrix (float64 by default), with a
    clear error on NULL or ragged vectors — a bare ``flatten().reshape``
    either throws an opaque ValueError mid-job or, when element counts
    happen to coincide, silently misaligns rows to scores
    (ListArray.flatten drops NULL slots).

    Also accepts the packed half-width layout
    (``halfvec.write_half_table``): a
    fixed_size_binary(2*dim) column is reinterpreted as little-endian
    float16 straight off the Arrow data buffer — zero-copy frombuffer,
    no per-element decode."""
    import numpy as np
    import pyarrow as pa

    n = len(vcol)
    if vcol.null_count:
        raise ValueError(
            f"{vcol.null_count} NULL vector(s) in Arrow batch; drop NULLs or run "
            "laion_spark.schema.validate_embeddings before Arrow-path scoring"
        )
    def _packed_elem(width: int):
        if width == 4 * dim:
            return np.float32  # packed float32 (halfvec.write_packed_index)
        if width == 2 * dim:
            return np.float16  # packed float16 (halfvec.write_half_table)
        if width == dim:
            return np.int8  # packed int8 SQ codes (write_int8_table)
        raise ValueError(
            f"packed vector width {width} B fits none of float32 (4*dim), "
            f"float16 (2*dim) or int8 (dim) for dim={dim}"
        )

    if pa.types.is_fixed_size_binary(vcol.type):
        width = vcol.type.byte_width
        elem = _packed_elem(width)
        flat = np.frombuffer(
            vcol.buffers()[1], dtype=elem, count=n * dim, offset=vcol.offset * width
        )
        return flat.reshape(n, dim).astype(dtype or np.float64, copy=False)
    if pa.types.is_binary(vcol.type) or pa.types.is_large_binary(vcol.type):
        # packed vectors after a JVM crossing: Spark has no fixed-width
        # binary type, so an FLBA parquet column surfaces in python
        # workers as VARIABLE binary — validate uniform widths via the
        # offsets buffer, then decode like the FSB case
        odt = np.int64 if pa.types.is_large_binary(vcol.type) else np.int32
        off = np.frombuffer(
            vcol.buffers()[1], odt, count=n + 1, offset=vcol.offset * odt().itemsize
        )
        if n == 0:
            return np.empty((0, dim), dtype=dtype or np.float64)
        widths = np.diff(off)
        width = int(widths[0])
        if not (widths == width).all():
            raise ValueError(
                "ragged packed-binary vector column: widths "
                f"{sorted(set(int(w) for w in widths))[:5]}... for dim={dim}"
            )
        elem = _packed_elem(width)
        start = int(off[0])
        flat = np.frombuffer(
            memoryview(vcol.buffers()[2])[start:start + n * width], dtype=elem
        )
        return flat.reshape(n, dim).astype(dtype or np.float64, copy=False)
    flat = vcol.flatten().to_numpy(zero_copy_only=False)
    if len(flat) != n * dim:
        raise ValueError(
            f"ragged embedding column: {n} rows x dim {dim} != {len(flat)} elements; "
            "run validate_embeddings to enforce a fixed dimension"
        )
    return flat.reshape(n, dim).astype(dtype or np.float64, copy=False)


def _arrow_scored(
    df: DataFrame,
    qvec: list[float],
    vector_col: str,
    cols: Sequence[str],
    metric: str,
) -> DataFrame:
    """Project (cols..., _raw) where _raw is the raw ordering score
    (squared L2 / cosine / dot) computed batch-wise in numpy.

    Partition-local, zero shuffle; Arrow list<float> values are
    flattened zero-copy into an (n, dim) matrix per batch.
    """
    import pyarrow as pa

    from laion_spark.session import _ship_package

    _ship_package(df.sparkSession)

    pruned = df.select(*cols, *([] if vector_col in cols else [vector_col]))
    out_fields = [pruned.schema[c] for c in cols]
    out_schema = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields) + ", _raw double"
        if out_fields
        else "_raw double"
    )
    dim = len(qvec)

    def score(batches):
        import numpy as np
        import pyarrow.compute as pc

        q = np.asarray(qvec, dtype=np.float64)
        qq = float(q @ q)
        for rb in batches:
            vcol = rb.column(rb.schema.get_field_index(vector_col))
            if vcol.null_count:
                # NULL embeddings score NULL (ranked last by the shared
                # finishing tail) — same contract as the HOF path,
                # instead of flat_matrix's hard error
                mask = vcol.is_valid()
                null_rb = rb.filter(pc.invert(mask))
                if len(null_rb):
                    arrays = [null_rb.column(null_rb.schema.get_field_index(c)) for c in cols]
                    arrays.append(pa.nulls(len(null_rb), pa.float64()))
                    yield pa.RecordBatch.from_arrays(arrays, list(cols) + ["_raw"])
                rb = rb.filter(mask)
                vcol = rb.column(rb.schema.get_field_index(vector_col))
            n = len(vcol)
            if n == 0:
                continue
            mat = flat_matrix(vcol, dim)
            if metric == "l2":
                # direct sum((a-q)^2): no cancellation (the expanded
                # ||a||^2-2aq+||q||^2 form drifts from the oracle's fold)
                d = mat - q
                raw = np.einsum("ij,ij->i", d, d)
            elif metric == "dot":
                raw = mat @ q
            else:  # cosine
                norms = np.sqrt(np.einsum("ij,ij->i", mat, mat)) * np.sqrt(qq)
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = np.where(norms != 0.0, (mat @ q) / norms, np.nan)
            arrays = [rb.column(rb.schema.get_field_index(c)) for c in cols]
            arrays.append(pa.array(raw, type=pa.float64()))
            yield pa.RecordBatch.from_arrays(arrays, list(cols) + ["_raw"])

    scored = pruned.mapInArrow(score, out_schema)
    if metric == "cosine":
        scored = scored.withColumn("_raw", F.when(~F.isnan("_raw"), F.col("_raw")))
    return scored


def _fs_from_uri(uri: str):
    """Seam over ``pyarrow.fs.FileSystem.from_uri`` (an immutable
    C-extension classmethod — not patchable in tests directly)."""
    from pyarrow.fs import FileSystem

    return FileSystem.from_uri(uri)



def _arrow_to_ddl(t) -> str:
    """Arrow type -> Spark DDL string for the scan-scorer's output
    schema. float16 maps to ``float`` (Spark has no half type; the
    scorer upcasts the Arrow column before handing rows to the JVM)."""
    import pyarrow as pa

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_arrow_to_ddl(t.value_type)}>"
    if pa.types.is_float16(t) or pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_int8(t):
        return "tinyint"
    if pa.types.is_int16(t):
        return "smallint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_integer(t):  # int64 + unsigned widths
        return "bigint"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t) or pa.types.is_fixed_size_binary(t):
        return "binary"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp_ntz" if t.tz is None else "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    raise ValueError(f"unsupported Arrow type for scan-scorer output: {t}")


def _strip_local(f: str) -> str:
    """``file:///p`` and ``file:/p`` (Spark's ``inputFiles()`` form) ->
    the plain local path ``/p``; anything else unchanged."""
    return f[7:] if f.startswith("file:///") else f[5:] if f.startswith("file:") else f


def _list_parquet_files(paths: Sequence[str]):
    """Resolve dirs/files/URIs to (pyarrow FileSystem, sorted parquet
    file paths, is_remote) WITHOUT a Spark job: local listing is a
    filesystem walk; remote (s3/gs/hdfs/abfs) goes through
    ``pyarrow.fs``. Replaces a ``spark.read.parquet`` round-trip that
    cost a driver-side Hadoop listing + schema-merge job per call —
    pure fixed overhead on the ANN probe path, and the JVM reader
    additionally cannot open FLOAT16 parquet at all (the half-width
    storage variant only the Arrow path serves)."""
    from pyarrow.fs import FileSelector, FileType, LocalFileSystem

    remote = any("://" in p and not p.startswith("file:") for p in paths)
    if not remote:
        fs, roots = LocalFileSystem(), [_strip_local(p) for p in paths]
    else:
        def norm(f: str) -> str:
            for hadoop, arrow in (("s3a://", "s3://"), ("s3n://", "s3://")):
                if f.startswith(hadoop):
                    return arrow + f[len(hadoop):]
            return f

        normed = [norm(p) for p in paths]
        fs, p0 = _fs_from_uri(normed[0])
        prefix = normed[0][: len(normed[0]) - len(p0)]
        roots = []
        for f in normed:
            if not f.startswith(prefix):
                raise ValueError(
                    f"mixed filesystems in one table: {f!r} does not share prefix {prefix!r}"
                )
            roots.append(f[len(prefix):])
    def hidden(rel: str) -> bool:
        # Hadoop's hidden-path rule (FileInputFormat.hiddenFileFilter):
        # any path SEGMENT starting with '_' or '.' is invisible —
        # in-flight `_temporary/` output, `.hive-staging/`, `_SUCCESS`.
        # Spark's own listing applies this; scoring such files would
        # silently include partial/duplicate rows from an interrupted
        # write.
        return any(seg.startswith(("_", ".")) for seg in rel.split("/") if seg)

    files: list[str] = []
    missing: list[str] = []
    for root in roots:
        info = fs.get_file_info(root)
        if info.type == FileType.File:
            files.append(root)
        elif info.type == FileType.Directory:
            for fi in fs.get_file_info(FileSelector(root, recursive=True)):
                rel = fi.path[len(root):]
                if (
                    fi.type == FileType.File
                    and fi.base_name.endswith(".parquet")
                    and not hidden(rel)
                ):
                    files.append(fi.path)
        else:
            # an ANN probe may legitimately name a partition dir that
            # was never written (empty cluster) — skip it; only an
            # entirely empty resolution is an error
            missing.append(root)
    if not files:
        raise FileNotFoundError(f"no parquet files under {list(paths)} (missing: {missing})")
    return fs, sorted(files), remote


class ScanPlan:
    """Precomputed scan inputs for ``knn_search_parquet`` — the
    per-probe fixed cost (directory listing, one footer open per file
    for row-group counts, schema read) hoisted out of the query path so
    REPEATED probes over the same table pay it once. ``IVFIndex``
    caches one of these per partition dir and assembles per-probe plans
    by concatenation (similarity.py); a serving loop should do the
    same. The object is driver-side only — workers still receive just
    (path, row_group) pairs and the pickled FileSystem."""

    __slots__ = ("fs", "files", "remote", "tasks", "arrow_schema")

    def __init__(self, fs, files, remote, tasks, arrow_schema):
        self.fs = fs
        self.files = files
        self.remote = remote
        self.tasks = tasks
        self.arrow_schema = arrow_schema


def build_scan_plan(path: str | Sequence[str]) -> ScanPlan:
    """Resolve ``path`` (dir(s)/file(s)/URIs) into a reusable
    :class:`ScanPlan`: sorted file list + (file, row_group) task table
    + Arrow schema. Row-group splits are enumerated only when files are
    few (<= 256) and row groups matter for parallelism; with many files
    one task per file already saturates a cluster."""
    import pyarrow.parquet as pq

    paths = [path] if isinstance(path, str) else list(path)
    fs, files, remote = _list_parquet_files(paths)
    tasks: list[tuple[str, int]] = []
    if len(files) <= 256:
        for f in files:
            try:
                n_rg = pq.ParquetFile(fs.open_input_file(f)).metadata.num_row_groups
                tasks.extend((f, g) for g in range(n_rg))
            except OSError:
                # transient footer-read failure (object-store throttle):
                # fall back to a whole-file task — a (f, 0) guess would
                # silently drop this file's other row groups
                tasks.append((f, -1))
    else:
        tasks = [(f, -1) for f in files]  # -1 = whole file
    arrow_schema = pq.ParquetFile(fs.open_input_file(files[0])).schema_arrow
    return ScanPlan(fs, files, remote, tasks, arrow_schema)


def knn_search_parquet(
    spark,
    path: str | Sequence[str],
    query_vec: Sequence[float],
    k: int = 10,
    vector_col: str = "image_embedding",
    select: Sequence[str] | None = None,
    metric: str = "l2",
    score_col: str = "score",
    batch_rows: int | None = None,
    n_partitions: int | None = None,
    pa_filter=None,
    plan: ScanPlan | None = None,
    scale_col: str | None = None,
) -> DataFrame:
    """Brute-force top-k over a parquet table via a *scan-side* scorer:
    each Spark task opens its (file, row_group) split directly with
    pyarrow and scores it with BLAS, so the wide embedding column never
    crosses the JVM->Python socket and never materializes as Spark rows
    — only k candidate rows per split leave the stage.

    This is the engine's answer to the reference's SIMD scan loop
    (BASELINE.md: 10-48M rows/s on contiguous float arrays): Arrow's
    C++ parquet decode + numpy/BLAS per split, parallelized by Spark
    over splits. The decode itself is the floor — measured (this host,
    200k x 768 f32): plain list<float> ~190-210 MB/s/thread and
    neither ``byte_stream_split`` encoding, ``fixed_size_list``
    layout, nor snappy/uncompressed moved it more than ~5%, so
    re-encoding the table buys nothing; the wins live in reading
    fewer bytes (partition pruning via the ANN path, pa_filter
    row-group skipping). Per-split candidates are exact (float64 accumulation,
    same direct sum((a-q)^2) form as the oracle), so the final global
    TakeOrdered over n_splits*k rows reproduces ``knn_search`` results
    bit-for-bit at the round(6) grain.

    At 100 TB the same plan holds: the task table is (file, row_group)
    — thousands of independent splits, no shuffle, O(splits * k) rows
    to the final reduce. Storage may be local or remote: paths resolve
    through ``pyarrow.fs`` (S3/GCS/HDFS/Azure — see ``_list_parquet_files``),
    workers reopen their splits against the pickled FileSystem, and
    remote reads pre-buffer (coalesced ranges) since object-store
    latency dominates small reads. Spark-SQL string filters belong in
    ``knn_search``; this path takes predicates as
    ``pa_filter``.

    ``path`` may be a list of directories — that is the ANN hook: an
    index layer (e.g. IVFIndex partition dirs, ``ivf_cluster=K``)
    passes only the probed partitions and this scorer reads
    ~nprobe/C of the bytes, the plain-parquet analog of the
    reference's Annoy table.

    ``pa_filter`` (a ``pyarrow.compute`` field expression, e.g.
    ``pc.field("label") == 3``) pushes a predicate into the Arrow
    parquet reader: row groups whose statistics exclude the predicate
    are skipped entirely and the residual filter runs vectorized before
    scoring — the scan-path equivalent of Catalyst's PushedFilters.

    ``scale_col`` enables int8 scalar-quantized (SQ8) tables
    (``halfvec.write_int8_table``): the vector column holds packed int8
    codes (fixed_size_binary(dim)) and ``scale_col`` the per-vector
    float32 dequantization factor — each batch dequantizes as
    ``codes * scale`` before scoring, so the scan reads 1/4 of the
    float32 bytes at SQ8's ~1/254 relative grain.
    """
    if metric not in _METRICS:
        raise ValueError(f"metric must be one of {_METRICS}, got {metric!r}")
    from laion_spark.session import _ship_package

    _ship_package(spark)  # worker closures unpickle laion_spark by module ref
    if plan is None:
        plan = build_scan_plan(path)
    fs, files, remote, tasks, arrow_schema = (
        plan.fs, plan.files, plan.remote, plan.tasks, plan.arrow_schema,
    )

    # partition columns (Hive dirs) are not in the physical files — the
    # worker-side reader can only produce physical columns; reject an
    # explicit select of one.
    phys = set(arrow_schema.names)
    if vector_col not in phys:
        raise ValueError(f"vector column {vector_col!r} not in parquet files ({sorted(phys)})")
    if scale_col is not None and scale_col not in phys:
        raise ValueError(f"scale column {scale_col!r} not in parquet files ({sorted(phys)})")
    import pyarrow as pa

    vtype = arrow_schema.field(vector_col).type
    if (
        scale_col is None
        and pa.types.is_fixed_size_binary(vtype)
        and vtype.byte_width == len(query_vec)
    ):
        # an SQ8 table scored without its scale would silently rank raw
        # codes — wrong results, no crash. Fail loudly instead.
        raise ValueError(
            f"{vector_col!r} is fixed_size_binary({vtype.byte_width}) = packed int8 "
            f"codes for dim={len(query_vec)}; pass scale_col "
            f"(write_int8_table stores it as '{vector_col}_scale')"
        )
    if select is not None:
        missing = [c for c in select if c not in phys]
        if missing:
            raise ValueError(
                f"column(s) {missing} are not in the parquet files (partition "
                "columns?) — the scan scorer reads files directly; select "
                "physical columns, or pass the partition dirs as `path` instead"
            )
        cols = list(select)
    else:
        cols = [c for c in arrow_schema.names if c != vector_col and c != scale_col]

    qvec = [float(x) for x in query_vec]
    if batch_rows is None:
        # cache-blocked default: keep a batch's vector block (~1.5 MB)
        # inside L2 so the decode -> norm -> GEMV passes run on hot
        # data. Measured at 1M x 768-d f32: large batches lose to
        # memory traffic (32768-row decode+score is ~1.7x slower
        # single-thread), tiny ones to per-batch numpy overhead; 512
        # rows at 768-d is the measured parallel optimum on a 32-core
        # host (best 1.11 s vs 1.14/1.17/1.28 s for 256/1024/2048-row
        # batches, and the tightest run-to-run spread). Floor of 256
        # rows: below that, bookkeeping always wins.
        batch_rows = max(256, 393_216 // max(len(query_vec), 1))
    import pyarrow as pa

    #: select columns needing an Arrow-side cast before rows reach the
    #: JVM: float16 / list<float16> upcast to float32 (Spark has no half
    #: type), and fixed_size_binary re-typed to plain binary — Spark's
    #: Arrow converter rejects FSB arrays against the BinaryType schema
    #: _arrow_to_ddl declares (ADVICE r9: selecting a packed vector
    #: column used to die with an opaque runtime type error)
    def _cast_target(t):
        if pa.types.is_float16(t):
            return pa.float32()
        if (pa.types.is_list(t) or pa.types.is_large_list(t)) and pa.types.is_float16(t.value_type):
            return pa.list_(pa.float32())
        if pa.types.is_fixed_size_binary(t):
            return pa.binary()
        return None

    cast_cols = {
        c: tgt
        for c in cols
        if (tgt := _cast_target(arrow_schema.field(c).type)) is not None
    }
    out_schema = ", ".join(
        f"`{c}` {_arrow_to_ddl(arrow_schema.field(c).type)}" for c in cols
    )
    out_schema = (out_schema + ", " if out_schema else "") + "_raw double"
    read_cols = list(cols) + ([vector_col] if vector_col not in cols else [])
    if scale_col is not None and scale_col not in read_cols:
        read_cols.append(scale_col)
    kk = k

    def score_split(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq  # noqa: F811  (worker-side import)

        q = np.asarray(qvec, dtype=np.float64)
        dim = len(q)
        qq = float(q @ q)
        for rb in batches:
            # range-leaf dispatch: the batch holds this partition's
            # group id(s); the (file, row_group) assignment rides the
            # closure (small strings), so no task-table shuffle exists.
            # task_groups=None = task-table mode (huge listings): the
            # batch itself carries (path, row_group) rows instead
            if task_groups is not None:
                assigned = [
                    t for gid in rb.column(0).to_pylist() for t in task_groups[gid]
                ]
            else:
                assigned = list(zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()))
            for fpath, rg in assigned:
                # use_threads=False: every core is already running its
                # own task; per-task decode threads only fight each other
                rgs = None if rg < 0 else [rg]
                if pa_filter is not None:
                    import pyarrow.dataset as pads

                    # pre_buffer on remote stores coalesces the column
                    # chunk ranges into few large GETs (object-store
                    # latency, not bandwidth, dominates small reads)
                    fmt = pads.ParquetFileFormat(
                        default_fragment_scan_options=pads.ParquetFragmentScanOptions(
                            pre_buffer=remote
                        )
                    )
                    frag = fmt.make_fragment(fpath, filesystem=fs, row_groups=rgs)
                    batch_iter = frag.to_batches(
                        columns=read_cols, filter=pa_filter, batch_size=batch_rows, use_threads=False
                    )
                else:
                    pf = pq.ParquetFile(fs.open_input_file(fpath), pre_buffer=remote)
                    batch_iter = pf.iter_batches(
                        batch_size=batch_rows,
                        row_groups=rgs if rgs is not None else range(pf.metadata.num_row_groups),
                        columns=read_cols,
                        use_threads=False,
                    )
                cand_s: list = []
                cand_cols: list[list] = [[] for _ in cols]  # typed pa chunks
                for b in batch_iter:
                    vcol = b.column(b.schema.get_field_index(vector_col))
                    n = len(vcol)
                    if n == 0:
                        continue
                    scales = (
                        b.column(b.schema.get_field_index(scale_col))
                        .to_numpy(zero_copy_only=False)
                        .astype(np.float32, copy=False)
                        if scale_col is not None
                        else None
                    )
                    top = min(kk, n)
                    if metric == "l2":
                        # two-stage: float32 dot-form SELECTION (SIMD-wide,
                        # no f64 copy of the batch — ~11x the f64 direct
                        # pass), then EXACT float64 rescore of the
                        # candidates in the same direct sum((a-q)^2) form
                        # as the oracle and ``knn_search``. The candidate set
                        # provably contains the true top-k: every row
                        # whose f32 score is within 2*eps of the f32 k-th
                        # is kept, where eps is the standard forward-error
                        # bound for a float32 dot product
                        # (|fl(x.y) - x.y| <= ~n*u*sum|x_i y_i|).
                        mat32 = flat_matrix(vcol, dim, np.float32)
                        if scales is not None:  # SQ8 dequantize: codes * scale
                            mat32 = _scale_rows_inplace(mat32, scales)
                        q32 = q.astype(np.float32)
                        nrm = np.einsum("ij,ij->i", mat32, mat32, dtype=np.float32)
                        raw32 = nrm - 2.0 * (mat32 @ q32) + np.float32(qq)
                        # NaN/inf elements (out-of-contract but must not
                        # silently drop the whole batch): select as +inf
                        # so they rank last; a NaN kth would make the
                        # <= comparison all-False
                        finite = np.isfinite(raw32)
                        if not finite.all():
                            raw32 = np.where(finite, raw32, np.float32(np.inf))
                        kth = np.partition(raw32, top - 1)[top - 1]
                        u32 = 6.0e-8
                        max_nrm = float(nrm[finite].max()) if finite.any() else 0.0
                        eps = dim * u32 * (np.sqrt(max_nrm) + np.sqrt(qq)) ** 2
                        cand = np.flatnonzero(raw32 <= kth + 4.0 * eps)
                        d = mat32[cand].astype(np.float64) - q
                        raw = np.einsum("ij,ij->i", d, d)
                        idx = pa.array(cand)
                    elif metric == "dot":
                        mat = flat_matrix(vcol, dim)
                        if scales is not None:
                            mat = _scale_rows_inplace(mat, scales)
                        raw = mat @ q
                        idx = pa.array(np.argpartition(-raw, top - 1)[:top])
                        raw = raw[idx.to_numpy()]
                    else:
                        mat = flat_matrix(vcol, dim)
                        if scales is not None:
                            mat = _scale_rows_inplace(mat, scales)
                        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat)) * np.sqrt(qq)
                        with np.errstate(divide="ignore", invalid="ignore"):
                            raw = np.where(norms != 0.0, (mat @ q) / norms, np.nan)
                        idx = pa.array(np.argpartition(-raw, top - 1)[:top])
                        raw = raw[idx.to_numpy()]
                    cand_s.append(raw)
                    for ci, c in enumerate(cols):
                        cand_cols[ci].append(b.column(b.schema.get_field_index(c)).take(idx))
                if not cand_s:
                    continue
                s = np.concatenate(cand_s)
                top = min(kk, len(s))
                key = s if metric == "l2" else -s
                keep = pa.array(np.argpartition(key, top - 1)[:top])
                arrays = [
                    pa.concat_arrays([ch.combine_chunks() if isinstance(ch, pa.ChunkedArray) else ch for ch in chunks]).take(keep)
                    for chunks in cand_cols
                ]
                # float16 storage columns upcast (Spark has no half
                # type) and fixed_size_binary re-typed to plain binary
                # before rows reach the JVM
                arrays = [
                    a.cast(cast_cols[c]) if c in cast_cols else a
                    for c, a in zip(cols, arrays)
                ]
                arrays.append(pa.array(s[keep.to_numpy()], type=pa.float64()))
                yield pa.RecordBatch.from_arrays(arrays, list(cols) + ["_raw"])

    # Task dispatch as a shuffle-FREE range leaf: spark.range(n, ...,
    # numPartitions=n) materializes one row per partition JVM-side, so
    # the probe is a single stage (scan+score -> TakeOrdered reduce).
    # The previous LocalRelation + repartition(N) form moved only tiny
    # (path, row_group) strings but still paid a full shuffle stage
    # boundary — pure fixed overhead on the ANN probe path (measured
    # ~0.1-0.2 s/probe). Round-robin assignment interleaves row groups
    # of the same file across partitions, which also spreads a skewed
    # probed cluster over the wave. An RDD task table (sc.parallelize)
    # would be worse still: a second Python runner per execution just
    # to deserialize pickled rows (~0.2 s, measured r3).
    n_parts = n_partitions or min(len(tasks), spark.sparkContext.defaultParallelism)
    n_parts = max(1, min(n_parts, len(tasks)))
    if len(tasks) <= _TASKS_INLINE_MAX:
        task_groups = [tasks[i::n_parts] for i in range(n_parts)]
        base = spark.range(0, n_parts, 1, n_parts)
    else:
        # huge listings (100 TB-scale table: ~10^5-10^6 splits): the
        # full assignment no longer belongs in the task closure (it is
        # broadcast with the task binary); ship each partition only its
        # own (path, row_group) rows via the tiny task-table shuffle —
        # one extra stage, amortized at this scan size
        task_groups = None
        base = spark.createDataFrame(tasks, "path string, row_group int")
        if n_parts > 1:
            base = base.repartition(n_parts)
    partial = base.mapInArrow(score_split, out_schema)
    if metric == "cosine":
        # zero-norm vectors score NaN, and NaN sorts ABOVE every double
        # under desc — null it so desc_nulls_last ranks it last (same
        # guard as _arrow_scored)
        partial = partial.withColumn("_raw", F.when(~F.isnan("_raw"), F.col("_raw")))
    return _finish_topk(partial, metric, k, score_col, tiebreak=cols)


def topk_by_score(df: DataFrame, score: Column, k: int, ascending: bool = True, tiebreak: Sequence[str] = ()) -> DataFrame:
    """Generic top-k on a computed score — always TakeOrderedAndProject."""
    ordered = [score.asc() if ascending else score.desc()] + [F.col(c).asc() for c in tiebreak]
    return df.orderBy(*ordered).limit(k)
