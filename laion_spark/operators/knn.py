"""Top-k vector search — the reference's canonical query (SURVEY.md V7).

Reference shape (search.py:20-35):
    SELECT url, caption, L2Distance(<emb>, <qvec>) AS score
    FROM <table> [WHERE <filter>] ORDER BY score ASC LIMIT <k>

Plan (both scorers share it):
    ParquetScan(pruned columns, pushed filters)
      -> Filter(<filter>)            # cheap predicate BELOW scoring
      -> score                       # see the scorers below
      -> TakeOrderedAndProject(k)    # per-partition top-k + k-row
                                     # reduce; NO global sort, NO
                                     # data-row shuffle
      -> Project(score = sqrt(s2))   # sqrt on the k survivors only

Scorers — chosen by the query's type, with no option:

  - a literal query vector (a sequence of floats) is scored by the
    top-k kernel (``topk_candidates``), whatever produces its Arrow
    batches: the scan lane (``knn_search_parquet``) reads (file,
    row_group) splits itself, ``knn_search`` runs ``_split_topk`` per
    Spark partition in a ``mapInArrow`` after Spark's filters, and the
    joins (similarity.py) per split. Each hands ``TakeOrdered`` its k
    best rows (plus exact ties), not every row; no shuffle.
  - a ``Column`` query vector (concept math over columns) is scored by
    Catalyst's higher-order array functions (``zip_with``/
    ``aggregate``). They run interpreted, element-at-a-time with
    boxing, so this path is for column-valued queries and is the
    tests' independent reference for the kernel.

Why not unroll a literal query into per-element JVM expressions
(whole-stage codegen, no Python boundary)? Every query vector is a new
literal, so every query pays a fresh expression build and Janino
compile, and past ~2,048 dims the generated code outgrows the JVM's
64 KB method limit and runs interpreted. Measured on a 4-core host
(list<float> parquet, filter ``h >= 100``, a fresh query vector per
call, warm calls). The two 768-d ``mapInArrow`` cells are the range of
per-process medians of calls 3-8, over 6 fresh ``get_session``
processes, whose workers do not re-read Spark's zip archives per task
(``laion_spark.pydaemon``); the 3072-d cell was taken before that
daemon and still includes ~0.3 s per task:

  =============  ================  ==========  =========
  rows x dim     unrolled codegen  mapInArrow  HOF
  =============  ================  ==========  =========
  16,384 x 768   8.9-10.7 s        0.7-1.1 s   1.1-1.3 s
  131,072 x 768  12.4-14.5 s       1.0-1.5 s   not run
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
    """Brute-force exact top-k nearest neighbors over any DataFrame.

    A literal ``query_vec`` is scored by the top-k kernel (one
    ``_split_topk`` per Spark partition, after ``filter``), a ``Column``
    by the Catalyst HOF path (see the module docstring). NULL vectors
    and NaN scores rank last on both. ``tiebreak`` columns make the
    result total-ordered (needed for cross-engine comparison; the
    reference's ORDER BY score alone is ambiguous on ties) and settle
    the kernel's per-partition cut, so the rows never depend on
    partition layout or row order.
    """
    if metric not in _METRICS:
        raise ValueError(f"metric must be one of {_METRICS}, got {metric!r}")
    if filter is not None:
        df = df.filter(filter)
    cols = list(select) if select is not None else [c for c in df.columns if c != vector_col]

    if not isinstance(query_vec, Column):
        scored = _arrow_scored(df, list(query_vec), vector_col, cols, metric, k, tiebreak)
    else:
        raw = {"l2": l2_distance_sq, "cosine": cosine_similarity, "dot": dot}[metric]
        scored = df.select(*cols, raw(F.col(vector_col), query_vec).alias("_raw"))

    return _finish_topk(scored, metric, k, score_col, tiebreak)


def _finish_topk(
    scored: DataFrame, metric: str, k: int, score_col: str, tiebreak: Sequence[str]
) -> DataFrame:
    """Shared ordering/finishing tail for every scorer: NULL scores
    last (NULL embeddings must not displace real neighbors — Spark's
    plain asc is NULLS FIRST), NaN scores last (nulled under desc),
    sqrt applied to the k survivors only.

    Every ``Column`` built here costs py4j round trips (PySpark 4.1
    classic records each call's Python call site on the JVM), and
    every kNN query pays them: ``_raw`` is built once and the tiebreak
    columns go to ``orderBy`` as names, which sort ascending, nulls
    first, like ``asc()``. With one tie column that is 55 round trips
    instead of 79 (l2) and 72 instead of 112 (cosine)."""
    raw = F.col("_raw")
    if metric == "l2":
        order = raw.asc_nulls_last()
        finish = F.sqrt(raw)
    else:
        order = raw.desc_nulls_last()
        finish = raw
        # NaN (zero norm under the kernel's cosine, NaN elements) sorts
        # above every double, first under desc: null it so it ranks last,
        # as the kernel ranks it (HOF cosine is NULL there already)
        scored = scored.withColumn("_raw", F.when(~F.isnan(raw), raw))
    topk = scored.orderBy(order, *tiebreak).limit(k)
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


#: float32 unit roundoff (2^-24 ~= 5.96e-8), rounded up: the unit of
#: every selection margin in ``topk_candidates``
_U32 = 6.0e-8


def topk_candidates(vcol, scales, Q, k: int, metric: str, tie=None):
    """The top-k kernel behind every scan-side and batched kNN scorer,
    over one Arrow batch: ``vcol`` holds n corpus vectors (any layout
    ``flat_matrix`` reads), ``scales`` their SQ8 factors (None for
    unquantized storage) and ``Q`` is the (m, dim) float64 query
    matrix. Returns ``(rows, qs, raw)``: every (row, query) pair whose
    exact raw score (squared L2, cosine or dot) is no worse than that
    query's k-th best in the batch. Ties at the k-th place are all
    kept, so which of several equal rows survive is left to the
    caller's final order, never to the batch layout. ``tie`` (an Arrow
    array, or a record batch of several tiebreak columns, one entry per
    row) settles them here instead: each query keeps exactly its first
    k by (score, tie ascending, nulls first), the order of the joins'
    window and of ``knn_search``'s final sort.

    Two stages. A float32 GEMM over the (n x m) score matrix SELECTS
    every row whose score is within the forward-error margin of the
    query's float32 k-th; that set provably holds the exact top-k
    (SIMD-wide, no float64 copy of the batch — ~11x the float64 direct
    pass). Only those candidates are RESCORED in float64 from the
    values as stored (list<double> as is, SQ8 as codes x scale,
    float32/float16 by upcast), l2 in the direct sum((a-q)^2) form the
    oracle folds, so every path that runs this kernel gives a (query,
    row) pair the same score. Non-finite scores (NaN elements, a
    zero-norm row or query under cosine, which scores NaN) rank last
    and never tie: a query with fewer than k finite scores keeps those
    and at most k of the rest (the first by ``tie``, else by row
    order), so an all-zero batch yields k rows per query, not n.
    The float64 rescore runs in chunks of ``_RESCORE_BYTES``.
    """
    import numpy as np
    import pyarrow as pa

    m, dim = Q.shape
    X = flat_matrix(vcol, dim, np.float32)
    if scales is not None:  # SQ8 dequantize: codes * scale
        X = _scale_rows_inplace(X, scales)
    nrm = np.einsum("ij,ij->i", X, X, dtype=np.float32)
    fin = np.isfinite(nrm)
    xmax = float(np.sqrt(nrm[fin].max())) if fin.any() else 0.0
    qq = np.einsum("ij,ij->i", Q, Q)
    qn = np.sqrt(qq)
    XQ = X @ np.ascontiguousarray(Q.T, dtype=np.float32)  # BLAS-ready strides at m=1
    # key: the float32 score, lower = better; err: a bound on its
    # distance from the exact score, per query
    if metric == "l2":
        key = nrm[:, None] - 2.0 * XQ + qq.astype(np.float32)
        # each term of the expanded form is a float32 dot product, off
        # by <= ~dim*u*sum|x_i y_i| (the standard forward-error bound)
        err = dim * _U32 * (xmax + qn) ** 2
    elif metric == "dot":
        key = -XQ
        # |fl32(x.q) - x.q| <= gamma_dim * sum|x_i q_i|
        #                   <= dim*u/(1 - dim*u) * |x| |q|
        # (Higham, Accuracy and Stability of Numerical Algorithms,
        # Thm 3.5, then Cauchy-Schwarz); rounding a float64 or
        # SQ8-dequantized x and the float64 q to float32 first adds
        # <= 2u |x| |q|. With |x| <= xmax that is
        # (dim + 2) * u * xmax * |q| to first order in u, and the 4x
        # below leaves 2x slack over the 2x needed.
        err = (dim + 2) * _U32 * xmax * qn
    else:
        with np.errstate(divide="ignore", invalid="ignore"):
            key = -XQ / np.outer(np.sqrt(nrm), qn.astype(np.float32))
        # |cos| <= 1: one constant bounds the normalized dot's error
        err = np.full(m, dim * _U32)
    finite = np.isfinite(key)
    key[~finite] = np.inf
    top = min(k, len(X))
    kth = np.partition(key, top - 1, axis=0)[top - 1]
    # the exact k-th is <= kth + err, and a row whose exact score is
    # <= that has key <= kth + 2*err; keep 2x slack on top
    sel = key <= kth + 4.0 * err
    short = ~np.isfinite(kth)
    if short.any():
        # kth = inf would select every row: keep the finite ones and
        # the first k non-finite ones in tiebreak order
        rank = None if tie is None else _id_rank(tie)
        perm = np.arange(len(X)) if rank is None else np.argsort(rank, kind="stable")
        first = np.empty((len(X), int(short.sum())), dtype=bool)
        first[perm] = np.cumsum(~finite[perm][:, short], axis=0) <= k
        sel[:, short] = finite[:, short] | first
    rows, qs = np.nonzero(sel)
    raw = np.empty(len(rows))
    step = max(1, _RESCORE_BYTES // (8 * dim))
    for s in range(0, len(rows), step):
        r, Qc = rows[s:s + step], Q[qs[s:s + step]]
        Xc = flat_matrix(vcol.take(pa.array(r)), dim)
        if scales is not None:
            Xc = Xc * scales[r, None]
        if metric == "l2":
            d = Xc - Qc
            raw[s:s + step] = np.einsum("ij,ij->i", d, d)
        else:
            dots = np.einsum("ij,ij->i", Xc, Qc)
            if metric == "cosine":
                norms = np.sqrt(np.einsum("ij,ij->i", Xc, Xc)) * qn[qs[s:s + step]]
                with np.errstate(divide="ignore", invalid="ignore"):
                    dots = np.where(norms != 0.0, dots / norms, np.nan)
            raw[s:s + step] = dots
    keep = _keep_ties(qs, raw, k, metric, None if tie is None else _id_rank(tie.take(pa.array(rows))))
    return rows[keep], qs[keep], raw[keep]


#: bytes of float64 candidate vectors rescored at once: bounds the
#: rescore's copy when many pairs sit inside the selection margin
_RESCORE_BYTES = 32 << 20


def _id_rank(tie):
    """Ascending ranks of the tiebreak values (an Arrow array, or a
    record batch or table of tiebreak columns compared left to right)
    in Spark's ascending order: nulls first, NaN above every float. It
    is the order the joins' window (``cid`` asc) and ``knn_search``'s
    final sort break score ties in. None when a column is nested
    (arrays, structs, maps), which Arrow cannot sort: callers then keep
    every tie, or fall back to row order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = tie.columns if isinstance(tie, (pa.RecordBatch, pa.Table)) else [tie]
    if any(pa.types.is_nested(c.type) for c in cols):
        return None
    keys = []
    for c in cols:
        if pa.types.is_float16(c.type):  # Arrow cannot sort half floats
            c = c.cast(pa.float32())
        if pa.types.is_floating(c.type):  # Arrow sorts NaN with the nulls
            nan = pc.is_nan(c)
            keys += [pc.if_else(nan, float("inf"), c), nan]
        else:
            keys.append(c)
    t = pa.table({str(i): c for i, c in enumerate(keys)})
    keys = [(n, "ascending") for n in t.column_names]
    return np.argsort(pc.sort_indices(t, sort_keys=keys, null_placement="at_start").to_numpy())


def _keep_ties(qs, raw, k: int, metric: str, rank=None):
    """Indices of the (query, exact raw score) pairs to keep. Without
    ``rank``: every pair no worse than its query's finite k-th best
    (ties kept), and no more than k pairs in all when fewer than k
    scores are finite — non-finite scores (NaN) rank last and never
    tie. With ``rank`` (the pairs' tiebreak ranks): exactly each
    query's first k by (score, rank)."""
    import numpy as np

    key = raw if metric == "l2" else -raw
    key = np.where(np.isnan(key), np.inf, key)
    order = np.lexsort((key, qs) if rank is None else (rank, key, qs))
    sq, sk = qs[order], key[order]
    starts = np.flatnonzero(np.diff(sq, prepend=-1))
    sizes = np.diff(np.append(starts, len(sq)))
    first_k = np.arange(len(sq)) - np.repeat(starts, sizes) < k
    if rank is not None:
        return order[first_k]
    kth = np.repeat(sk[starts + np.minimum(sizes, k) - 1], sizes)
    return order[first_k | ((sk <= kth) & np.isfinite(sk))]


def _split_topk(batches, vector_col, scale_col, cols, Q, k: int, metric: str, *tie_cols):
    """One split's (or one Arrow partition's) share of a kNN answer:
    ``topk_candidates`` over each batch, merged into a running per-query
    cut at the exact k-th (ties kept, or settled by ``tie_cols``, some
    of ``cols``, compared left to right, where ``_id_rank`` can sort
    them), so at most ~k rows per query
    are held whatever the split's size. Returns ``(arrays, qs, raw)`` —
    ``arrays`` the ``cols`` columns of the kept rows — or None for a
    split with no rows."""
    import numpy as np
    import pyarrow as pa

    kept = None
    ti = [cols.index(c) for c in tie_cols]
    for b in batches:
        if b.num_rows == 0:
            continue
        scales = None if scale_col is None else b.column(scale_col).to_numpy(zero_copy_only=False)
        tie = pa.RecordBatch.from_arrays([b.column(c) for c in tie_cols], tie_cols) if ti else None
        rows, qs, raw = topk_candidates(b.column(vector_col), scales, Q, k, metric, tie)
        idx = pa.array(rows)
        arrays = [b.column(c).take(idx) for c in cols]
        if kept is not None:
            arrays = [pa.concat_arrays([a, c]) for a, c in zip(kept[0], arrays)]
            qs, raw = np.concatenate([kept[1], qs]), np.concatenate([kept[2], raw])
            rank = _id_rank(pa.RecordBatch.from_arrays([arrays[i] for i in ti], tie_cols)) if ti else None
            keep = _keep_ties(qs, raw, k, metric, rank)
            arrays = [a.take(pa.array(keep)) for a in arrays]
            qs, raw = qs[keep], raw[keep]
        kept = (arrays, qs, raw)
    return kept


def _arrow_scored(
    df: DataFrame,
    qvec: list[float],
    vector_col: str,
    cols: list[str],
    metric: str,
    k: int,
    tiebreak: Sequence[str],
) -> DataFrame:
    """Project (cols..., _raw) for each partition's k best rows:
    ``_split_topk`` over its Arrow batches, the cut settled by
    ``tiebreak``. Rows with a NULL vector skip the kernel and get a NULL
    ``_raw`` (ranked last, the HOF contract, not ``flat_matrix``'s
    error); they tie, so each partition keeps only its first k of them
    by ``tiebreak``."""
    import numpy as np
    import pyarrow as pa

    from laion_spark.session import _ship_package

    _ship_package(df.sparkSession)

    pruned = df.select(*cols, *([] if vector_col in cols else [vector_col]))
    schema = pruned.schema
    out_schema = ", ".join([f"`{c}` {schema[c].dataType.simpleString()}" for c in cols] + ["_raw double"])
    Q = np.asarray([qvec], dtype=np.float64)
    ties = list(tiebreak)

    def first_k(t):
        rank = _id_rank(t.select(ties)) if t.num_rows > k and ties else None
        return t.slice(0, k) if rank is None else t.take(pa.array(np.argsort(rank)[:k]))

    def score(batches):
        nulls = None

        def valid(batches):
            nonlocal nulls
            for b in batches:
                vcol = b.column(vector_col)
                if vcol.null_count:
                    got = pa.Table.from_batches([b.filter(vcol.is_null())])
                    nulls = first_k(got if nulls is None else pa.concat_tables([nulls, got]))
                    b = b.filter(vcol.is_valid())
                yield b

        got = _split_topk(valid(batches), vector_col, None, cols, Q, k, metric, *ties)
        if got is not None:
            yield pa.RecordBatch.from_arrays(got[0] + [pa.array(got[2], pa.float64())], cols + ["_raw"])
        if nulls is not None:
            arrays = [nulls.column(c).combine_chunks() for c in cols]
            yield pa.RecordBatch.from_arrays(arrays + [pa.nulls(nulls.num_rows, pa.float64())], cols + ["_raw"])

    return pruned.mapInArrow(score, out_schema)


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


def _split_tasks(fs, files, max_files: int) -> list[tuple[str, int]]:
    """(file, row_group) split tasks from each file's footer, or one
    whole-file task (row_group -1) per file when there are more than
    ``max_files`` files — then one task per file already saturates a
    cluster, and the footer opens would dominate the listing."""
    import pyarrow.parquet as pq

    if len(files) > max_files:
        return [(f, -1) for f in files]
    tasks: list[tuple[str, int]] = []
    for f in files:
        try:
            n_rg = pq.ParquetFile(fs.open_input_file(f)).metadata.num_row_groups
            tasks.extend((f, g) for g in range(n_rg))
        except OSError:
            # transient footer-read failure (object-store throttle):
            # fall back to a whole-file task — a (f, 0) guess would
            # silently drop this file's other row groups
            tasks.append((f, -1))
    return tasks


def build_scan_plan(path: str | Sequence[str]) -> ScanPlan:
    """Resolve ``path`` (dir(s)/file(s)/URIs) into a reusable
    :class:`ScanPlan`: sorted file list + (file, row_group) task table
    + Arrow schema. Row-group splits are enumerated only when files are
    few (<= 256) and row groups matter for parallelism; with many files
    one task per file already saturates a cluster."""
    import pyarrow.parquet as pq

    paths = [path] if isinstance(path, str) else list(path)
    fs, files, remote = _list_parquet_files(paths)
    tasks = _split_tasks(fs, files, 256)
    arrow_schema = pq.ParquetFile(fs.open_input_file(files[0])).schema_arrow
    return ScanPlan(fs, files, remote, tasks, arrow_schema)


def _check_vector_cols(schema, vector_col: str, scale_col: str | None, dim: int) -> None:
    """Fail loudly before a scan that cannot score right: the vector or
    scale column is missing from the files, or an SQ8 table is read
    without its scale — raw int8 codes would rank silently wrong."""
    import pyarrow as pa

    phys = set(schema.names)
    if vector_col not in phys:
        raise ValueError(f"vector column {vector_col!r} not in parquet files ({sorted(phys)})")
    if scale_col is not None and scale_col not in phys:
        raise ValueError(f"scale column {scale_col!r} not in parquet files ({sorted(phys)})")
    vtype = schema.field(vector_col).type
    if scale_col is None and pa.types.is_fixed_size_binary(vtype) and vtype.byte_width == dim:
        raise ValueError(
            f"{vector_col!r} is fixed_size_binary({vtype.byte_width}) = packed int8 "
            f"codes for dim={dim}; pass scale_col "
            f"(write_int8_table stores it as '{vector_col}_scale')"
        )


def _split_batches(fs, remote: bool, fpath: str, rg: int, columns, dim: int, pa_filter=None):
    """Arrow batches of one (file, row_group) split (``rg`` < 0: the
    whole file), read single-threaded — every core already runs its own
    task, so per-task decode threads would only fight each other.

    Cache-blocked batches: keep a batch's vector block (~1.5 MB) inside
    L2 so the decode -> norm -> GEMM passes run on hot data. Measured
    at 1M x 768-d f32: large batches lose to memory traffic (32768-row
    decode+score is ~1.7x slower single-thread), tiny ones to per-batch
    numpy overhead; 512 rows at 768-d is the measured parallel optimum
    on a 32-core host (best 1.11 s vs 1.14/1.17/1.28 s for
    256/1024/2048-row batches, and the tightest run-to-run spread).
    Floor of 256 rows: below that, bookkeeping always wins. The IVF
    join uses the same rule: its (rows x queries) score block grows
    with the query count, but the vector block, read once per batch
    for all queries, is what the rule sizes."""
    import pyarrow.parquet as pq

    batch_rows = max(256, 393_216 // max(dim, 1))
    rgs = None if rg < 0 else [rg]
    if pa_filter is not None:
        import pyarrow.dataset as pads

        # pre_buffer on remote stores coalesces the column chunk
        # ranges into few large GETs (object-store latency, not
        # bandwidth, dominates small reads)
        fmt = pads.ParquetFileFormat(
            default_fragment_scan_options=pads.ParquetFragmentScanOptions(pre_buffer=remote)
        )
        frag = fmt.make_fragment(fpath, filesystem=fs, row_groups=rgs)
        return frag.to_batches(
            columns=columns, filter=pa_filter, batch_size=batch_rows, use_threads=False
        )
    pf = pq.ParquetFile(fs.open_input_file(fpath), pre_buffer=remote)
    return pf.iter_batches(
        batch_size=batch_rows,
        row_groups=rgs if rgs is not None else range(pf.metadata.num_row_groups),
        columns=columns,
        use_threads=False,
    )


def _run_splits(spark, tasks: list[tuple], task_ddl: str, score_split, out_schema: str) -> DataFrame:
    """The scan-side split dispatch: ``score_split(*task)`` (a generator
    of Arrow batches) runs once per task tuple — (path, row_group, ...)
    — spread round-robin over ``defaultParallelism`` partitions.

    Tasks ride a shuffle-FREE range leaf: spark.range(n, ...,
    numPartitions=n) materializes one row per partition JVM-side, so a
    probe is a single stage (scan+score -> TakeOrdered reduce). A
    LocalRelation + repartition(N) form moved only tiny (path,
    row_group) strings but still paid a full shuffle stage boundary —
    pure fixed overhead on the ANN probe path (measured ~0.1-0.2
    s/probe). Round-robin assignment interleaves row groups of the same
    file across partitions, which also spreads a skewed probed cluster
    over the wave. An RDD task table (sc.parallelize) would be worse
    still: a second Python runner per execution just to deserialize
    pickled rows (~0.2 s, measured r3)."""
    n_parts = max(1, min(len(tasks), spark.sparkContext.defaultParallelism))
    if len(tasks) <= _TASKS_INLINE_MAX:
        task_groups = [tasks[i::n_parts] for i in range(n_parts)]
        base = spark.range(0, n_parts, 1, n_parts)
    else:
        # huge listings (100 TB-scale table: ~10^5-10^6 splits): the
        # full assignment no longer belongs in the task closure (it is
        # broadcast with the task binary); ship each partition only its
        # own task rows via the tiny task-table shuffle — one extra
        # stage, amortized at this scan size
        task_groups = None
        base = spark.createDataFrame(tasks, task_ddl)
        if n_parts > 1:
            base = base.repartition(n_parts)

    def run(batches):
        for rb in batches:
            # range-leaf mode: the batch holds this partition's group
            # id(s); task-table mode: it carries the task rows
            if task_groups is not None:
                assigned = [t for gid in rb.column(0).to_pylist() for t in task_groups[gid]]
            else:
                assigned = zip(*(c.to_pylist() for c in rb.columns))
            for t in assigned:
                yield from score_split(*t)

    return base.mapInArrow(run, out_schema)


def knn_search_parquet(
    spark,
    path: str | Sequence[str],
    query_vec: Sequence[float],
    k: int = 10,
    vector_col: str = "image_embedding",
    select: Sequence[str] | None = None,
    metric: str = "l2",
    score_col: str = "score",
    pa_filter=None,
    plan: ScanPlan | None = None,
    scale_col: str | None = None,
) -> DataFrame:
    """Brute-force top-k over a parquet table via a *scan-side* scorer:
    each Spark task opens its (file, row_group) split directly with
    pyarrow and scores it with BLAS, so the wide embedding column never
    crosses the JVM->Python socket and never materializes as Spark rows
    — only ~k candidate rows per split leave the stage.

    This is the engine's answer to the reference's SIMD scan loop
    (BASELINE.md: 10-48M rows/s on contiguous float arrays): Arrow's
    C++ parquet decode + numpy/BLAS per split, parallelized by Spark
    over splits. The decode itself is the floor — measured (this host,
    200k x 768 f32): plain list<float> ~190-210 MB/s/thread and
    neither ``byte_stream_split`` encoding, ``fixed_size_list``
    layout, nor snappy/uncompressed moved it more than ~5%, so
    re-encoding the table buys nothing; the wins live in reading
    fewer bytes (partition pruning via the ANN path, pa_filter
    row-group skipping).

    Each split runs ``topk_candidates`` per batch and keeps its first
    k rows by exact float64 score — from the stored values, l2 in the
    same direct sum((a-q)^2) form as the oracle — then by the selected
    columns, the order the final global TakeOrdered breaks ties in
    (NaN ranks last; a short answer, fewer than k finite scores, is
    filled in that order too). So the rows returned do not depend on
    batch, row-group or row order. A nested selected column (Arrow
    cannot sort one) leaves every exact tie of a finite score in the
    split for TakeOrdered to settle, and the fillers in row order.
    Scores are float64 results from the
    stored values: equal to ``knn_search``'s at the round(6) grain for
    every storage type, and bit-equal to the IVF joins' scores for the
    same (query, row) pair.

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
    import numpy as np
    import pyarrow as pa

    from laion_spark.session import _ship_package

    _ship_package(spark)  # worker closures unpickle laion_spark by module ref
    if plan is None:
        plan = build_scan_plan(path)
    fs, remote, arrow_schema = plan.fs, plan.remote, plan.arrow_schema
    dim = len(query_vec)
    _check_vector_cols(arrow_schema, vector_col, scale_col, dim)

    # partition columns (Hive dirs) are not in the physical files — the
    # worker-side reader can only produce physical columns; reject an
    # explicit select of one.
    phys = set(arrow_schema.names)
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
    Q = np.asarray([query_vec], dtype=np.float64)
    # the final sort breaks score ties by every selected column; each
    # split settles its cut (and a short answer's non-finite fillers)
    # in that order too, unless a column is nested (see ``_id_rank``)
    def score_split(fpath, rg):
        batches = _split_batches(fs, remote, fpath, rg, read_cols, dim, pa_filter)
        got = _split_topk(batches, vector_col, scale_col, cols, Q, k, metric, *cols)
        if got is None:
            return
        arrays, _qs, raw = got
        arrays = [a.cast(cast_cols[c]) if c in cast_cols else a for c, a in zip(cols, arrays)]
        yield pa.RecordBatch.from_arrays(arrays + [pa.array(raw, pa.float64())], cols + ["_raw"])

    partial = _run_splits(spark, plan.tasks, "path string, row_group int", score_split, out_schema)
    return _finish_topk(partial, metric, k, score_col, tiebreak=cols)


def topk_by_score(df: DataFrame, score: Column, k: int, ascending: bool = True, tiebreak: Sequence[str] = ()) -> DataFrame:
    """Generic top-k on a computed score — always TakeOrderedAndProject."""
    ordered = [score.asc() if ascending else score.desc()] + [F.col(c).asc() for c in tiebreak]
    return df.orderBy(*ordered).limit(k)
