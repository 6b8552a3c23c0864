"""V10 half-width storage: the float16 rewrite halves vector bytes and
the scan-side scorer returns the same neighbors (at float16's ~1e-3
grain the fixture's top-k ordering is stable)."""

import glob
import os

from laion_spark.operators.knn import knn_search_parquet
from laion_spark.sources.halfvec import write_half_table

QVEC64 = [round(((j * 37) % 19 - 9) / 10.0, 1) for j in range(64)]


def test_half_rewrite_roundtrip(spark, sf_dir, tmp_path):
    src = f"{sf_dir}/embeddings.parquet"
    dst = str(tmp_path / "emb_f16")
    res = write_half_table(spark, src, dst, vector_cols=("embedding",)).collect()
    n_src = spark.read.parquet(src).count()
    assert sum(r.rows for r in res) == n_src
    # bytes roughly halve (random floats don't compress, so the vector
    # column dominates both files)
    sz = lambda files: sum(os.path.getsize(f) for f in files)
    src_b = sz(glob.glob(src) or glob.glob(src + "/*.parquet"))
    dst_b = sz(glob.glob(dst + "/*.parquet"))
    assert dst_b < 0.7 * src_b, (src_b, dst_b)


def test_half_table_knn_matches_full_precision(spark, sf_dir, tmp_path):
    src = f"{sf_dir}/embeddings.parquet"
    dst = str(tmp_path / "emb_f16_knn")
    write_half_table(spark, src, dst, vector_cols=("embedding",)).collect()
    full = knn_search_parquet(spark, src, QVEC64, k=10, vector_col="embedding", select=["vec_id"])
    half = knn_search_parquet(spark, dst, QVEC64, k=10, vector_col="embedding", select=["vec_id"])
    full_ids = [r.vec_id for r in full.collect()]
    half_ids = [r.vec_id for r in half.collect()]
    # float16 rounding can swap near-ties at the tail; demand >= 9/10 agreement
    assert len(set(full_ids) & set(half_ids)) >= 9, (full_ids, half_ids)


def test_packed_rewrite_roundtrip(spark, sf_dir, tmp_path):
    src = f"{sf_dir}/embeddings.parquet"
    dst = str(tmp_path / "emb_f16p")
    res = write_half_table(spark, src, dst, vector_cols=("embedding",)).collect()
    n_src = spark.read.parquet(src).count()
    assert sum(r.rows for r in res) == n_src
    # packed is fixed_size_binary(2*dim): half the float32 bytes
    sz = lambda files: sum(os.path.getsize(f) for f in files)
    src_b = sz(glob.glob(src) or glob.glob(src + "/*.parquet"))
    dst_b = sz(glob.glob(dst + "/*.parquet"))
    assert dst_b < 0.7 * src_b, (src_b, dst_b)
    # the physical type really is one fixed-width value per vector
    import glob as _g

    import pyarrow.parquet as pq

    f0 = sorted(_g.glob(dst + "/*.parquet"))[0]
    t = pq.read_table(f0)
    import pyarrow as pa

    assert pa.types.is_fixed_size_binary(t.schema.field("embedding").type)
    assert t.schema.field("embedding").type.byte_width == 2 * 64


def test_packed_table_knn_matches_full_precision(spark, sf_dir, tmp_path):
    src = f"{sf_dir}/embeddings.parquet"
    dst = str(tmp_path / "emb_f16p_knn")
    write_half_table(spark, src, dst, vector_cols=("embedding",)).collect()
    full = knn_search_parquet(spark, src, QVEC64, k=10, vector_col="embedding", select=["vec_id"])
    packed = knn_search_parquet(spark, dst, QVEC64, k=10, vector_col="embedding", select=["vec_id"])
    full_ids = [r.vec_id for r in full.collect()]
    packed_ids = [r.vec_id for r in packed.collect()]
    assert len(set(full_ids) & set(packed_ids)) >= 9, (full_ids, packed_ids)


def test_packed_matches_list_f16_exactly(spark, sf_dir, tmp_path):
    """A list<float16> table written by pyarrow (the engine writes only
    the packed layout, but still reads this one) holds the same float16
    values as the packed twin -> identical ids and scores."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import write_list_f16_twin

    src = f"{sf_dir}/embeddings.parquet"
    d_list = str(tmp_path / "emb_l")
    d_pack = str(tmp_path / "emb_p")
    write_list_f16_twin(src, d_list)
    f0 = glob.glob(d_list + "/**/*.parquet", recursive=True)[0]
    assert pq.read_schema(f0).field("embedding").type == pa.list_(pa.float16())
    write_half_table(spark, src, d_pack, vector_cols=("embedding",)).collect()
    a = knn_search_parquet(spark, d_list, QVEC64, k=10, vector_col="embedding", select=["vec_id"])
    b = knn_search_parquet(spark, d_pack, QVEC64, k=10, vector_col="embedding", select=["vec_id"])
    got = [(r.vec_id, round(r.score, 6)) for r in a.collect()]
    assert got == [(r.vec_id, round(r.score, 6)) for r in b.collect()]


def test_int8_rewrite_quarter_bytes_and_schema(spark, sf_dir, tmp_path):
    from laion_spark.sources.halfvec import write_int8_table

    src = f"{sf_dir}/embeddings.parquet"
    dst = str(tmp_path / "emb_i8")
    res = write_int8_table(spark, src, dst, vector_cols=("embedding",)).collect()
    n_src = spark.read.parquet(src).count()
    assert sum(r.rows for r in res) == n_src
    import glob as _g

    import pyarrow as pa
    import pyarrow.parquet as pq

    f0 = sorted(_g.glob(dst + "/*.parquet"))[0]
    t = pq.read_table(f0)
    assert pa.types.is_fixed_size_binary(t.schema.field("embedding").type)
    assert t.schema.field("embedding").type.byte_width == 64  # 1 B/elem
    assert pa.types.is_float32(t.schema.field("embedding_scale").type)
    sz = lambda files: sum(os.path.getsize(f) for f in files)
    src_b = sz(glob.glob(src) or glob.glob(src + "/*.parquet"))
    dst_b = sz(glob.glob(dst + "/*.parquet"))
    # codes are 1/4 the f32 vector bytes (+ tiny scale column)
    assert dst_b < 0.45 * src_b, (src_b, dst_b)


def test_int8_knn_recall_vs_full_precision(spark, sf_dir, tmp_path):
    from laion_spark.sources.halfvec import write_int8_table

    src = f"{sf_dir}/embeddings.parquet"
    dst = str(tmp_path / "emb_i8_knn")
    write_int8_table(spark, src, dst, vector_cols=("embedding",)).collect()
    full = knn_search_parquet(spark, src, QVEC64, k=10, vector_col="embedding", select=["vec_id"])
    quant = knn_search_parquet(
        spark, dst, QVEC64, k=10, vector_col="embedding", select=["vec_id"],
        scale_col="embedding_scale",
    )
    full_ids = {r.vec_id for r in full.collect()}
    quant_ids = {r.vec_id for r in quant.collect()}
    # SQ8's ~1/254 relative grain: near-ties at the tail may swap
    assert len(full_ids & quant_ids) >= 8, (full_ids, quant_ids)


def test_int8_dequantization_error_bound(spark, sf_dir, tmp_path):
    """Every reconstructed element is within scale/2 = max|x|/254 of the
    original (round-to-nearest symmetric quantization)."""
    import numpy as np

    from laion_spark.sources.halfvec import write_int8_table

    src = f"{sf_dir}/embeddings.parquet"
    dst = str(tmp_path / "emb_i8_err")
    write_int8_table(spark, src, dst, vector_cols=("embedding",)).collect()
    import glob as _g

    import pyarrow.parquet as pq

    orig = {r.vec_id: np.asarray(r.embedding, dtype=np.float32)
            for r in spark.read.parquet(src).collect()}
    f0 = sorted(_g.glob(dst + "/*.parquet"))
    ids, codes, scales = [], [], []
    for f in f0:
        t = pq.read_table(f)
        ids += t.column("vec_id").to_pylist()
        scales += t.column("embedding_scale").to_pylist()
        buf = t.column("embedding").combine_chunks()
        for i in range(len(buf)):
            codes.append(np.frombuffer(buf[i].as_py(), dtype=np.int8))
    for vid, c, s in zip(ids, codes, scales):
        x = orig[vid]
        err = np.abs(c.astype(np.float32) * s - x)
        assert err.max() <= s / 2 + 1e-7, (vid, err.max(), s)


def test_int8_table_without_scale_col_fails_loudly(spark, sf_dir, tmp_path):
    import pytest

    from laion_spark.sources.halfvec import write_int8_table

    src = f"{sf_dir}/embeddings.parquet"
    dst = str(tmp_path / "emb_i8_guard")
    write_int8_table(spark, src, dst, vector_cols=("embedding",)).collect()
    with pytest.raises(ValueError, match="scale_col"):
        knn_search_parquet(spark, dst, QVEC64, k=10, vector_col="embedding", select=["vec_id"])


def test_int8_rejects_non_finite_vectors(spark, tmp_path):
    """ADVICE r9: NaN/Inf through rint->astype(int8) is undefined in
    numpy — the writer must fail loudly, not write corrupt codes."""
    import pytest

    from laion_spark.sources.halfvec import write_int8_table

    src = str(tmp_path / "bad_src")
    spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [float("nan"), 0.5])],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.parquet(src)
    dst = str(tmp_path / "bad_i8")
    with pytest.raises(Exception, match="non-finite"):
        write_int8_table(spark, src, dst, vector_cols=("embedding",)).collect()


def test_select_of_packed_vector_column_returns_binary(spark, sf_dir, tmp_path):
    """ADVICE r9: selecting a fixed_size_binary column used to put an FSB
    array against a BinaryType mapInArrow schema — opaque runtime type
    error. Now it casts to plain binary and the raw packed bytes come
    through."""
    src = f"{sf_dir}/embeddings.parquet"
    dst = str(tmp_path / "emb_sel_p")
    write_half_table(spark, src, dst, vector_cols=("embedding",)).collect()
    rows = knn_search_parquet(
        spark, dst, QVEC64, k=3, vector_col="embedding", select=["vec_id", "embedding"]
    ).collect()
    assert len(rows) == 3
    for r in rows:
        assert isinstance(r.embedding, (bytes, bytearray))
        assert len(r.embedding) == 2 * 64  # packed little-endian float16


def test_int8_index_one_pass_matches_rewrite_path(spark, sf_dir, tmp_path):
    """write_int8_index (quantize-before-shuffle, direct partitioned
    FLBA write) must produce byte-identical codes/scales and an
    identical serving surface to the proven two-step path
    (IVFIndex.write_index f32 table -> write_int8_table rewrite)."""
    import numpy as np
    import pyarrow.parquet as pq

    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import write_int8_index, write_int8_table

    src = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(src).select("vec_id", "embedding")
    dim = len(emb.first().embedding)
    idx = IVFIndex(dim=dim, n_clusters=4, n_iters=2, nprobe=2)
    idx.fit(emb, id_col="vec_id", vector_col="embedding", fit_rows=500)

    # two-step reference: f32 ivf table, then the file-wise rewrite
    f32_path = str(tmp_path / "ivf_f32")
    idx.write_index(emb, f32_path, "embedding")
    two_step = str(tmp_path / "ivf_i8_twostep")
    write_int8_table(spark, f32_path, two_step, vector_cols=("embedding",)).collect()

    one_pass = str(tmp_path / "ivf_i8_onepass")
    res = write_int8_index(idx.build(emb, "embedding"), one_pass, dim=dim)
    assert sum(r[1] for r in res) == emb.count()

    def snap(path):
        t = pq.read_table(path).sort_by("vec_id")
        codes = np.frombuffer(b"".join(t.column("embedding").to_pylist()), np.int8)
        return (
            t.column("vec_id").to_pylist(),
            codes.tobytes(),
            t.column("embedding_scale").to_pylist(),
            t.column("ivf_cluster").to_pylist(),
        )

    a, b = snap(two_step), snap(one_pass)
    assert a[0] == b[0] and a[3] == b[3]          # same rows, same clusters
    assert a[1] == b[1] and a[2] == b[2]          # byte-identical codes+scales

    # identical serving surface: exact scan with scale_col and the
    # partition-pruned probe both read the one-pass table unchanged
    ex = knn_search_parquet(
        spark, one_pass, QVEC64, k=5, vector_col="embedding",
        select=["vec_id"], scale_col="embedding_scale",
    ).collect()
    ex2 = knn_search_parquet(
        spark, two_step, QVEC64, k=5, vector_col="embedding",
        select=["vec_id"], scale_col="embedding_scale",
    ).collect()
    assert [r.vec_id for r in ex] == [r.vec_id for r in ex2]
    pr = idx.search_parquet(
        spark, one_pass, QVEC64, k=5, vector_col="embedding",
        select=["vec_id"], scale_col="embedding_scale",
    ).collect()
    assert len(pr) == 5
    # fixed 8 MB-grain layout premise: exactly one file per cluster dir
    import glob as _g

    for d in _g.glob(one_pass + "/ivf_cluster=*"):
        assert len(_g.glob(d + "/*.parquet")) == 1, d


def test_int8_index_rejects_nonfinite(spark, tmp_path):
    import math

    import pytest

    from laion_spark.sources.halfvec import write_int8_index

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [math.inf, 0.0], 1)],
        "id long, embedding array<float>, ivf_cluster int",
    )
    with pytest.raises(Exception, match="non-finite"):
        write_int8_index(df, str(tmp_path / "bad"), dim=2)


def test_int8_index_save_modes(spark, tmp_path):
    """Default mode errors on a non-empty destination (a new build must
    never interleave with an orphaned partial); overwrite replaces it."""
    import pytest

    from laion_spark.sources.halfvec import write_int8_index

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [3.0, 4.0], 1)],
        "id long, embedding array<float>, ivf_cluster int",
    )
    dst = str(tmp_path / "idx")
    write_int8_index(df, dst, dim=2)
    with pytest.raises(FileExistsError, match="non-empty"):
        write_int8_index(df, dst, dim=2)
    res = write_int8_index(df, dst, dim=2, mode="overwrite")
    assert sum(r[1] for r in res) == 2
    assert spark.read.parquet(dst).count() == 2


def test_int8_index_sliced_append_matches_one_pass(spark, sf_dir, tmp_path):
    """A sliced build (disjoint id ranges appended pass by pass — the
    bounded-peak-disk shape bench.py uses at 16M) must equal the
    single-pass table byte-for-byte in content and serve the same
    results."""
    import numpy as np
    import pyarrow.parquet as pq

    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import write_int8_index

    src = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(src).select("vec_id", "embedding")
    dim = len(emb.first().embedding)
    n = emb.count()
    idx = IVFIndex(dim=dim, n_clusters=4, n_iters=2, nprobe=2)
    idx.fit(emb, id_col="vec_id", vector_col="embedding", fit_rows=500)

    one = str(tmp_path / "one_pass")
    write_int8_index(idx.build(emb, "embedding"), one, dim=dim)

    sliced = str(tmp_path / "sliced")
    cut = int(emb.agg({"vec_id": "max"}).collect()[0][0]) // 2
    lo = emb.filter(f"vec_id <= {cut}")
    hi = emb.filter(f"vec_id > {cut}")
    write_int8_index(idx.build(lo, "embedding"), sliced, dim=dim, mode="overwrite")
    write_int8_index(idx.build(hi, "embedding"), sliced, dim=dim, mode="append")

    def snap(path):
        t = pq.read_table(path).sort_by("vec_id")
        codes = np.frombuffer(b"".join(t.column("embedding").to_pylist()), np.int8)
        return (
            t.column("vec_id").to_pylist(),
            codes.tobytes(),
            t.column("embedding_scale").to_pylist(),
            t.column("ivf_cluster").to_pylist(),
        )

    assert snap(one) == snap(sliced)
    assert spark.read.parquet(sliced).count() == n

    got_one = [
        r.vec_id
        for r in knn_search_parquet(
            spark, one, QVEC64, k=5, vector_col="embedding",
            select=["vec_id"], scale_col="embedding_scale",
        ).collect()
    ]
    got_sliced = [
        r.vec_id
        for r in knn_search_parquet(
            spark, sliced, QVEC64, k=5, vector_col="embedding",
            select=["vec_id"], scale_col="embedding_scale",
        ).collect()
    ]
    assert got_one == got_sliced


def test_packed_index_matches_list_index_exactly(spark, sf_dir, tmp_path):
    """write_packed_index (map-side f32 pack -> pyarrow FLBA sink) must
    serve IDENTICAL results to a list<float> layout written by Spark's
    own partitioned parquet writer — same float32 values, only the
    physical encoding differs (r14: the packed writer replaces the JVM
    list<float> write that dominated the 8M ivf rebuild)."""
    import numpy as np
    import pyarrow.parquet as pq

    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import write_packed_index

    src = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(src).select("vec_id", "embedding")
    dim = len(emb.first().embedding)
    idx = IVFIndex(dim=dim, n_clusters=4, n_iters=2, nprobe=2)
    idx.fit(emb, id_col="vec_id", vector_col="embedding", fit_rows=500)

    list_path = str(tmp_path / "ivf_list")
    idx.build(emb, "embedding").write.partitionBy("ivf_cluster").parquet(list_path)
    packed_path = str(tmp_path / "ivf_packed")
    res = write_packed_index(idx.build(emb, "embedding"), packed_path, dim=dim)
    assert sum(r[1] for r in res) == emb.count()

    # byte-identical float32 vectors per id, identical cluster
    # assignment, FLBA(4*dim) physical type
    tl = pq.read_table(list_path).sort_by("vec_id")
    tp = pq.read_table(packed_path).sort_by("vec_id")
    assert tl.column("vec_id").to_pylist() == tp.column("vec_id").to_pylist()
    assert tl.column("ivf_cluster").to_pylist() == tp.column("ivf_cluster").to_pylist()
    lv = np.asarray(tl.column("embedding").to_pylist(), dtype=np.float32)
    pv = np.frombuffer(b"".join(tp.column("embedding").to_pylist()), np.float32)
    assert lv.tobytes() == pv.tobytes()
    import pyarrow as pa

    assert pa.types.is_fixed_size_binary(tp.schema.field("embedding").type)
    assert tp.schema.field("embedding").type.byte_width == 4 * dim

    # identical serving surface: exact scan + pruned probe, no scale_col
    ex_l = knn_search_parquet(
        spark, list_path, QVEC64, k=5, vector_col="embedding", select=["vec_id"]
    ).collect()
    ex_p = knn_search_parquet(
        spark, packed_path, QVEC64, k=5, vector_col="embedding", select=["vec_id"]
    ).collect()
    assert [r.vec_id for r in ex_l] == [r.vec_id for r in ex_p]
    assert [round(r.score, 5) for r in ex_l] == [round(r.score, 5) for r in ex_p]
    pr_l = idx.search_parquet(
        spark, list_path, QVEC64, k=5, vector_col="embedding", select=["vec_id"]
    ).collect()
    pr_p = idx.search_parquet(
        spark, packed_path, QVEC64, k=5, vector_col="embedding", select=["vec_id"]
    ).collect()
    assert [r.vec_id for r in pr_l] == [r.vec_id for r in pr_p]

    # one file per cluster dir (8 MB row-group probe granularity holds)
    import glob as _g

    for d in _g.glob(packed_path + "/ivf_cluster=*"):
        assert len(_g.glob(d + "/*.parquet")) == 1, d


def test_packed_index_sliced_append(spark, sf_dir, tmp_path):
    """Sliced append (disjoint id halves) must
    match the one-pass packed table row-for-row — the disk-bounded
    build shape the bench uses for the 8M rebuild."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import write_packed_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dim = len(emb.first().embedding)
    idx = IVFIndex(dim=dim, n_clusters=4, n_iters=2, nprobe=2)
    idx.fit(emb, id_col="vec_id", vector_col="embedding", fit_rows=500)
    mid = emb.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]

    one = str(tmp_path / "one")
    write_packed_index(idx.build(emb, "embedding"), one, dim=dim)
    sliced = str(tmp_path / "sliced")
    lo, hi = emb.filter(F.col("vec_id") <= mid), emb.filter(F.col("vec_id") > mid)
    write_packed_index(idx.build(lo, "embedding"), sliced, dim=dim, mode="overwrite")
    write_packed_index(idx.build(hi, "embedding"), sliced, dim=dim, mode="append")
    to = pq.read_table(one).sort_by("vec_id")
    ts = pq.read_table(sliced).sort_by("vec_id")
    assert to.column("vec_id").to_pylist() == ts.column("vec_id").to_pylist()
    assert (
        b"".join(to.column("embedding").to_pylist())
        == b"".join(ts.column("embedding").to_pylist())
    )


def test_twins_from_packed_f32_source_match_list_source(spark, sf_dir, tmp_path):
    """The f16 and int8 rewrites must produce identical bytes whether
    the source ivf table is list<float> or packed f32 — the bench's twin
    builds read whichever layout the ivf build wrote (packed, from r14
    on)."""
    import pyarrow.parquet as pq

    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import (
        write_half_table,
        write_int8_table,
        write_packed_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dim = len(emb.first().embedding)
    idx = IVFIndex(dim=dim, n_clusters=4, n_iters=2, nprobe=2)
    idx.fit(emb, id_col="vec_id", vector_col="embedding", fit_rows=500)
    lsrc = str(tmp_path / "src_list")
    idx.build(emb, "embedding").write.partitionBy("ivf_cluster").parquet(lsrc)
    psrc = str(tmp_path / "src_packed")
    write_packed_index(idx.build(emb, "embedding"), psrc, dim=dim)

    def vec_bytes(path, col="embedding"):
        t = pq.read_table(path).sort_by("vec_id")
        return b"".join(t.column(col).to_pylist()), t.column("vec_id").to_pylist()

    a, b = str(tmp_path / "f16_l"), str(tmp_path / "f16_p")
    write_half_table(spark, lsrc, a, ("embedding",)).collect()
    write_half_table(spark, psrc, b, ("embedding",)).collect()
    ba, ia = vec_bytes(a)
    bb, ib = vec_bytes(b)
    assert ia == ib and ba == bb, "f16 twin differs by source layout"

    a, b = str(tmp_path / "i8_l"), str(tmp_path / "i8_p")
    write_int8_table(spark, lsrc, a, ("embedding",)).collect()
    write_int8_table(spark, psrc, b, ("embedding",)).collect()
    ta = pq.read_table(a).sort_by("vec_id")
    tb = pq.read_table(b).sort_by("vec_id")
    assert b"".join(ta.column("embedding").to_pylist()) == b"".join(
        tb.column("embedding").to_pylist()
    )
    assert ta.column("embedding_scale").to_pylist() == tb.column("embedding_scale").to_pylist()


def test_index_builds_from_binary_input_match_list_input(spark, sf_dir, tmp_path):
    """write_packed_index AND write_int8_index must produce identical
    tables whether the assigned input df carries array<float> or the
    packed-binary form (r14 all-binary build pipeline: generators emit
    binary so the JVM never materializes a list anywhere in a build)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from laion_spark.operators.knn import flat_matrix
    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import write_int8_index, write_packed_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dim = len(emb.first().embedding)
    idx = IVFIndex(dim=dim, n_clusters=4, n_iters=2, nprobe=2)
    idx.fit(emb, id_col="vec_id", vector_col="embedding", fit_rows=500)

    def to_binary(batches):
        for rb in batches:
            vi = rb.schema.get_field_index("embedding")
            mat = np.ascontiguousarray(
                flat_matrix(rb.column(vi), dim, np.float32), dtype=np.float32)
            n = rb.num_rows
            offs = np.arange(0, (n + 1) * 4 * dim, 4 * dim, dtype=np.int32)
            ba = pa.Array.from_buffers(
                pa.binary(), n,
                [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(mat.tobytes())])
            arrays = [rb.column(i) for i in range(rb.num_columns)]
            arrays[vi] = ba
            yield pa.RecordBatch.from_arrays(arrays, [f.name for f in rb.schema])

    emb_bin = emb.mapInArrow(to_binary, "vec_id long, embedding binary")

    def snap(path, cols):
        t_ = pq.read_table(path).sort_by("vec_id")
        return [t_.column(c).to_pylist() for c in cols]

    pl, pb = str(tmp_path / "pk_l"), str(tmp_path / "pk_b")
    write_packed_index(idx.build(emb, "embedding"), pl, dim=dim)
    write_packed_index(idx.build(emb_bin, "embedding"), pb, dim=dim)
    assert snap(pl, ["vec_id", "embedding"]) == snap(pb, ["vec_id", "embedding"])

    il, ib = str(tmp_path / "i8_l"), str(tmp_path / "i8_b")
    write_int8_index(idx.build(emb, "embedding"), il, dim=dim)
    write_int8_index(idx.build(emb_bin, "embedding"), ib, dim=dim)
    assert snap(il, ["vec_id", "embedding", "embedding_scale"]) == snap(
        ib, ["vec_id", "embedding", "embedding_scale"])


def _fitted_ivf(spark, sf_dir):
    from laion_spark.operators.similarity import IVFIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    idx = IVFIndex(dim=64, n_clusters=4, n_iters=2, nprobe=2)
    idx.fit(emb, id_col="vec_id", vector_col="embedding", fit_rows=500)
    return emb, idx


def test_twins_of_file_uri_source_keep_the_hive_tree(spark, sf_dir, tmp_path):
    """Spark reports local paths in the ``file:/`` form
    (``df.inputFiles()``). A twin rewrite given that form must keep the
    plain-path twin's ``ivf_cluster=K`` tree — not flatten it into
    top-level part files that leave a probe nothing to prune — and
    serve the same probe ids."""
    from laion_spark.sources.halfvec import write_half_table, write_int8_table

    emb, idx = _fitted_ivf(spark, sf_dir)
    src = str(tmp_path / "ivf")
    idx.write_index(emb, src, "embedding")

    def tree(d):
        return sorted(
            os.path.relpath(f, d) for f in glob.glob(d + "/**/*.parquet", recursive=True)
        )

    for writer, kw in (
        (write_half_table, {}),
        (write_int8_table, {"scale_col": "embedding_scale"}),
    ):
        plain = str(tmp_path / f"{writer.__name__}_plain")
        uri = str(tmp_path / f"{writer.__name__}_uri")
        writer(spark, src, plain, ("embedding",)).collect()
        writer(spark, "file:" + src, uri, ("embedding",)).collect()
        assert tree(plain) and all(p.startswith("ivf_cluster=") for p in tree(plain))
        assert tree(uri) == tree(plain)
        ids = [
            [
                r.vec_id
                for r in idx.search_parquet(
                    spark, d, QVEC64, k=5, vector_col="embedding", select=["vec_id"], **kw
                ).collect()
            ]
            for d in (plain, uri)
        ]
        assert len(ids[0]) == 5 and ids[0] == ids[1]


def test_failed_append_leaves_the_index_unchanged(spark, sf_dir, tmp_path):
    """An append that fails inside the sink stage — one already-packed
    row of the wrong width trips the sink's width check while the other
    sink tasks write their clusters — must leave the index exactly as
    it was: same files, same scan plans, same rows, no staging dir."""
    import pytest
    from pyspark.sql import functions as F

    from laion_spark.sources.halfvec import write_packed_index

    emb, idx = _fitted_ivf(spark, sf_dir)
    path = str(tmp_path / "ivf")
    idx.write_index(emb, path, "embedding")

    def state():
        files = sorted(
            os.path.relpath(os.path.join(d, f), path) for d, _, fs in os.walk(path) for f in fs
        )
        plans = idx.scan_plans(path, refresh=True)["by_cluster"]
        return files, plans, spark.read.parquet(path).count()

    before = state()
    # little-endian float32 1.0 repeated: 64 elements, 63 for the last row
    bad = spark.range(40).select(
        (F.col("id") + 1_000_000).alias("vec_id"),
        F.expr("unhex(repeat('0000803f', IF(id = 39, 63, 64)))").alias("embedding"),
        (F.col("id") % 4).cast("int").alias("ivf_cluster"),
    )
    with pytest.raises(Exception, match="code widths"):
        write_packed_index(bad, path, dim=64, mode="append")
    assert state() == before
    assert not glob.glob(path + "/_staging-*")


def test_untagged_appends_keep_every_row(spark, sf_dir, tmp_path):
    """Every write names its files with its own write id, so two plain
    appends into the same cluster dirs keep every row of both slices."""
    from laion_spark.sources.halfvec import write_packed_index

    emb, idx = _fitted_ivf(spark, sf_dir)
    path = str(tmp_path / "ivf")
    for part in (emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1")):
        write_packed_index(idx.build(part, "embedding"), path, dim=64, mode="append")
    got = sorted(r.vec_id for r in spark.read.parquet(path).select("vec_id").collect())
    assert got == sorted(r.vec_id for r in emb.select("vec_id").collect())
    for d in glob.glob(path + "/ivf_cluster=*"):
        assert len(glob.glob(d + "/*.parquet")) == 2, d
