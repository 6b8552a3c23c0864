import pytest
from pyspark.sql import functions as F

from laion_spark.functions.vector import vec_lit
from laion_spark.operators import knn_search
from laion_spark.operators.knn import build_scan_plan
from tests.conftest import SF_DIR, assert_matches_oracle, duck_con, scan_rows

QVEC = [round(((j * 37) % 19 - 9) / 10.0, 1) for j in range(64)]
QLIT = "[" + ", ".join(f"{x}::DOUBLE" for x in QVEC) + "]"


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_knn_l2_matches_duckdb(spark, emb, sf_dir):
    got = knn_search(
        emb,
        QVEC,
        k=10,
        vector_col="embedding",
        select=["vec_id"],
        tiebreak=["vec_id"],
    ).select("vec_id", F.round("score", 6).alias("score"))
    sql = f"""
      SELECT vec_id,
             round(sqrt(list_aggregate(list_transform(range(1, 65),
               i -> (CAST(embedding[i] AS DOUBLE) - ({QLIT})[i]) ^ 2), 'sum')), 6) AS score
      FROM embeddings
      ORDER BY 2, 1
      LIMIT 10
    """
    assert_matches_oracle(got, duck_con(sf_dir), sql)


def test_knn_with_filter(spark, emb):
    out = knn_search(
        emb, QVEC, k=5, vector_col="embedding", filter="label = 3", select=["vec_id", "label"], tiebreak=["vec_id"]
    ).collect()
    assert len(out) == 5
    assert all(r.label == 3 for r in out)
    scores = [r.score for r in out]
    assert scores == sorted(scores)


def test_knn_can_select_the_vector_column(spark, emb):
    out = knn_search(
        emb, QVEC, k=3, vector_col="embedding", select=["vec_id", "embedding"], tiebreak=["vec_id"]
    ).collect()
    assert [len(r.embedding) for r in out] == [len(QVEC)] * 3


def test_knn_physical_plan_is_take_ordered(spark, emb):
    plan = knn_search(emb, QVEC, k=10, vector_col="embedding", select=["vec_id"])._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_knn_l2_null_embedding_ranks_last(spark, emb):
    """A NULL embedding scores NULL and must not displace real top-k
    rows (plain asc is NULLS FIRST in Spark — ADVICE r1)."""
    with_null = emb.select("vec_id", "embedding").unionAll(
        spark.sql("SELECT -1 AS vec_id, CAST(NULL AS array<float>) AS embedding")
    )
    for name, q in (("arrow", QVEC), ("hof", vec_lit(QVEC))):
        out = knn_search(
            with_null, q, k=10, vector_col="embedding", select=["vec_id"], tiebreak=["vec_id"]
        ).collect()
        assert all(r.vec_id != -1 for r in out), f"NULL row leaked into top-k ({name})"
        assert all(r.score is not None for r in out)


def test_knn_parquet_scan_parity(spark, emb, sf_dir):
    """The scan-side Arrow+BLAS scorer (bench fast lane) and the
    DataFrame lane's Arrow scorer both reproduce the Catalyst HOF
    reference exactly at the round(6) grain, all metrics."""
    from laion_spark.operators.knn import knn_search_parquet

    path = f"{sf_dir}/embeddings.parquet"
    kw = dict(k=10, vector_col="embedding", select=["vec_id"])
    for metric in ("l2", "cosine", "dot"):
        ref = knn_search(emb, vec_lit(QVEC), tiebreak=["vec_id"], metric=metric, **kw).collect()
        a = knn_search(emb, QVEC, tiebreak=["vec_id"], metric=metric, **kw).collect()
        b = knn_search_parquet(spark, path, QVEC, metric=metric, **kw).collect()
        want = [(r.vec_id, round(r.score, 6)) for r in ref]
        assert [(r.vec_id, round(r.score, 6)) for r in a] == want, metric
        assert [(r.vec_id, round(r.score, 6)) for r in b] == want, metric


def test_knn_parquet_scan_multi_row_groups(spark, emb, tmp_path):
    """Split enumeration is per (file, row_group): a file with many row
    groups fans out into independent splits and still scores exactly."""
    import pyarrow.parquet as pq

    from laion_spark.operators.knn import knn_search_parquet

    path = str(tmp_path / "rg")
    emb.coalesce(1).write.parquet(path)
    import glob

    f = glob.glob(f"{path}/part-*.parquet")[0]
    small = str(tmp_path / "rg_small.parquet")
    pq.write_table(pq.read_table(f), small, row_group_size=100)
    assert pq.ParquetFile(small).metadata.num_row_groups > 3
    got = knn_search_parquet(spark, small, QVEC, k=7, vector_col="embedding", select=["vec_id"]).collect()
    want = knn_search(emb, QVEC, k=7, vector_col="embedding", select=["vec_id"], tiebreak=["vec_id"]).collect()
    assert [(r.vec_id, round(r.score, 6)) for r in got] == [(r.vec_id, round(r.score, 6)) for r in want]


def test_knn_parquet_scan_filter_pushdown(spark, emb, sf_dir):
    """pa_filter pushes the predicate into the Arrow reader (row-group
    stats skip + vectorized residual) and must equal the DataFrame lane
    with the same Spark filter."""
    import pyarrow.compute as pc

    from laion_spark.operators.knn import knn_search_parquet

    path = f"{sf_dir}/embeddings.parquet"
    a = knn_search(
        emb, QVEC, k=7, vector_col="embedding", filter="label = 3", select=["vec_id", "label"], tiebreak=["vec_id"]
    ).collect()
    b = knn_search_parquet(
        spark, path, QVEC, k=7, vector_col="embedding", select=["vec_id", "label"], pa_filter=pc.field("label") == 3
    ).collect()
    assert [(r.vec_id, round(r.score, 6)) for r in a] == [(r.vec_id, round(r.score, 6)) for r in b]
    empty = knn_search_parquet(
        spark, path, QVEC, k=7, vector_col="embedding", select=["vec_id"], pa_filter=pc.field("label") == 10**6
    ).collect()
    assert empty == []


def test_knn_parquet_scan_partition_dirs(spark, emb, tmp_path):
    """A list of partition dirs is the ANN hook: scanning only the
    probed partitions must equal brute force over the same subset."""
    from laion_spark.operators.knn import knn_search_parquet

    path = str(tmp_path / "by_label")
    emb.write.partitionBy("label").parquet(path)
    dirs = [f"{path}/label=1", f"{path}/label=3"]
    got = knn_search_parquet(spark, dirs, QVEC, k=5, vector_col="embedding", select=["vec_id"]).collect()
    want = knn_search(
        emb.filter("label IN (1, 3)"), QVEC, k=5, vector_col="embedding", select=["vec_id"], tiebreak=["vec_id"]
    ).collect()
    assert [(r.vec_id, round(r.score, 6)) for r in got] == [(r.vec_id, round(r.score, 6)) for r in want]


def test_knn_parquet_scan_partitioned_root(spark, emb, tmp_path):
    """Scanning the ROOT of a Hive-partitioned table must work: the
    partition column is pruned from a default select (it is not in the
    physical files) and an explicit select of it raises clearly."""
    from laion_spark.operators.knn import knn_search_parquet

    path = str(tmp_path / "proot")
    emb.write.partitionBy("label").parquet(path)
    got = knn_search_parquet(spark, path, QVEC, k=5, vector_col="embedding").collect()
    want = knn_search(emb, QVEC, k=5, vector_col="embedding", select=["vec_id"], tiebreak=["vec_id"]).collect()
    assert [(r.vec_id, round(r.score, 6)) for r in got] == [(r.vec_id, round(r.score, 6)) for r in want]
    with pytest.raises(ValueError, match="partition"):
        knn_search_parquet(spark, path, QVEC, k=5, vector_col="embedding", select=["vec_id", "label"])


def test_knn_parquet_scan_cosine_zero_vector_ranks_last(spark, tmp_path):
    """A zero-norm vector scores NaN in cosine; NaN sorts ABOVE every
    double under desc in Spark, so it must be nulled and ranked last."""
    from laion_spark.operators.knn import knn_search_parquet

    rows = [(0, [0.0, 0.0, 0.0]), (1, [1.0, 2.0, 3.0]), (2, [3.0, 2.0, 1.0])]
    df = spark.createDataFrame(rows, "id int, embedding array<float>")
    path = str(tmp_path / "zv.parquet")
    df.coalesce(1).write.parquet(path)
    got = knn_search_parquet(spark, path, [1.0, 2.0, 3.0], k=3, vector_col="embedding", metric="cosine").collect()
    assert [r.id for r in got] == [1, 2, 0]
    assert got[-1].score is None
    # a second, different query through the same reused ScanPlan
    plan = build_scan_plan(path)

    def search(q):
        return lambda: knn_search_parquet(spark, path, q, k=3, vector_col="embedding", metric="cosine", plan=plan)

    assert scan_rows(search([1.0, 2.0, 3.0]))[-1] == (0, None)
    assert [i for i, _ in scan_rows(search([3.0, 2.0, 1.0]))] == [2, 1, 0]
    assert len(plan.prepared) == 1


def test_knn_parquet_scan_nan_element_does_not_drop_batch(spark, tmp_path):
    """One NaN element must not make the f32 selection drop every row
    of its batch (a NaN k-th threshold compares all-False)."""
    from laion_spark.operators.knn import knn_search_parquet

    rows = [(0, [float("nan"), 1.0]), (1, [1.0, 1.0]), (2, [2.0, 2.0]), (3, [3.0, 3.0])]
    df = spark.createDataFrame(rows, "id int, embedding array<float>")
    path = str(tmp_path / "nan.parquet")
    df.coalesce(1).write.parquet(path)
    got = knn_search_parquet(spark, path, [1.0, 1.0], k=2, vector_col="embedding").collect()
    assert [r.id for r in got] == [1, 2]
    plan = build_scan_plan(path)
    for q, want in (([1.0, 1.0], [(1, 0.0), (2, round(2 ** 0.5, 9))]), ([2.0, 2.0], [(2, 0.0), (1, round(2 ** 0.5, 9))])):
        assert scan_rows(lambda: knn_search_parquet(spark, path, q, k=2, vector_col="embedding", plan=plan)) == want
    assert len(plan.prepared) == 1


def test_knn_arrow_impl_null_embedding_scores_null(spark, emb):
    """The Arrow scorer must match the HOF NULL contract: NULL
    embeddings get a NULL score ranked last, not a hard error."""
    with_null = emb.select("vec_id", "embedding").unionAll(
        spark.sql("SELECT -1 AS vec_id, CAST(NULL AS array<float>) AS embedding")
    )
    out = knn_search(
        with_null, QVEC, k=10, vector_col="embedding", select=["vec_id"], tiebreak=["vec_id"]
    ).collect()
    assert all(r.vec_id != -1 for r in out)
    ref = knn_search(
        with_null, vec_lit(QVEC), k=10, vector_col="embedding", select=["vec_id"], tiebreak=["vec_id"]
    ).collect()
    assert [(r.vec_id, round(r.score, 6)) for r in out] == [(r.vec_id, round(r.score, 6)) for r in ref]


def test_knn_literal_fillers_follow_tiebreak(spark):
    """Fewer than k finite scores: the NULL-vector and NaN-scored rows
    that fill the answer are the reference's (first by ``tiebreak``),
    though they reach the kernel in the reverse order over 7-row Arrow
    batches — a cut to the first k in row order would keep the largest
    ids."""
    rows = [(i, [i + 1.0, 1.0] if i < 2 else None if i % 2 == 0 else [float("nan"), 1.0])
            for i in range(40)]
    df = spark.createDataFrame(rows, "id long, embedding array<float>")
    rev = df.sort(F.desc("id")).coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    was = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for metric in ("l2", "cosine", "dot"):
            kw = dict(k=5, vector_col="embedding", select=["id"], metric=metric, tiebreak=["id"])
            got, want = (
                [(r.id, None if r.score is None or r.score != r.score else round(r.score, 6))
                 for r in out.collect()]
                for out in (knn_search(rev, [1.0, 1.0], **kw), knn_search(df, vec_lit([1.0, 1.0]), **kw))
            )
            assert got == want, metric
            # l2 ranks NaN (odd ids) above NULL; cosine and dot tie them
            assert [i for i, _ in got][2:] == ([3, 5, 7] if metric == "l2" else [2, 3, 4]), metric
    finally:
        spark.conf.set(key, was)


def test_knn_scan_lane_short_answer_follows_tiebreak(spark, tmp_path):
    """A zero query under cosine scores every row NaN, so the whole
    answer is filler. The scan lane must fill it in the final sort's
    order (the selected columns), as HOF and the DataFrame lane do, not
    in file row order: the table is written in descending id order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from laion_spark.operators.knn import knn_search_parquet

    import numpy as np

    ids = list(range(39, -1, -1))
    table = pa.table({"id": pa.array(ids, pa.int64()),
                      "embedding": pa.array([[float(i % 3), 1.0] for i in ids], pa.list_(pa.float32()))})
    path = str(tmp_path / "rev.parquet")
    pq.write_table(table, path)
    df = spark.read.parquet(path)
    kw = dict(k=3, vector_col="embedding", select=["id"], metric="cosine")
    scan = [r.id for r in knn_search_parquet(spark, path, [0.0, 0.0], **kw).collect()]
    lane = [r.id for r in knn_search(df, [0.0, 0.0], tiebreak=["id"], **kw).collect()]
    hof = [r.id for r in knn_search(df, vec_lit([0.0, 0.0]), tiebreak=["id"], **kw).collect()]
    assert scan == lane == hof == [0, 1, 2]
    # a finite query, then the zero query again, through one reused ScanPlan
    plan = build_scan_plan(path)
    for q, want in (([1.0, 1.0], [1, 4, 7]), ([0.0, 0.0], [0, 1, 2])):
        assert [i for i, _ in scan_rows(lambda: knn_search_parquet(spark, path, q, plan=plan, **kw))] == want
    assert len(plan.prepared) == 1
    # a half-float tie column ranks by its float32 upcast (Arrow cannot
    # sort float16; Spark cannot read it, so the scan lane alone)
    half = str(tmp_path / "half.parquet")
    pq.write_table(table.append_column("h", pa.array(np.asarray(ids, np.float16))), half)
    kw["select"] = ["h", "id"]
    assert [r.id for r in knn_search_parquet(spark, half, [0.0, 0.0], **kw).collect()] == [0, 1, 2]
    # a nested tie column cannot be ranked in Arrow: both lanes still
    # answer k rows (their fillers then follow row order)
    kw["select"] = ["id", "embedding"]
    assert len(knn_search_parquet(spark, path, [0.0, 0.0], **kw).collect()) == 3
    assert len(knn_search(df, [0.0, 0.0], tiebreak=["embedding", "id"], **kw).collect()) == 3


def test_knn_high_dim_literal_matches_hof(spark, tmp_path):
    """At dim 3072 (past the JVM's 64 KB generated-method limit for an
    unrolled per-element score) a literal query still goes through the
    Arrow scorer and matches the HOF reference at round(6)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    dim, n = 3072, 300
    rng = np.random.default_rng(7)
    mat = rng.standard_normal((n, dim), dtype=np.float32)
    vecs = pa.FixedSizeListArray.from_arrays(pa.array(mat.reshape(-1)), dim).cast(
        pa.list_(pa.float32())
    )
    path = str(tmp_path / "hd.parquet")
    pq.write_table(pa.table({"id": np.arange(n), "embedding": vecs}), path)
    df = spark.read.parquet(path)
    q = [float(x) for x in rng.standard_normal(dim)]
    for metric in ("l2", "cosine"):
        kw = dict(k=10, vector_col="embedding", select=["id"], tiebreak=["id"], metric=metric)
        got = knn_search(df, q, **kw).collect()
        want = knn_search(df, vec_lit(q), **kw).collect()
        assert [(r.id, round(r.score, 6)) for r in got] == [
            (r.id, round(r.score, 6)) for r in want
        ], metric


def test_flat_matrix_guards():
    import pyarrow as pa

    from laion_spark.operators.knn import flat_matrix

    ok = pa.array([[1.0, 2.0], [3.0, 4.0]], type=pa.list_(pa.float32()))
    assert flat_matrix(ok, 2).shape == (2, 2)
    with_null = pa.array([[1.0, 2.0], None], type=pa.list_(pa.float32()))
    with pytest.raises(ValueError, match="NULL"):
        flat_matrix(with_null, 2)
    ragged = pa.array([[1.0, 2.0], [3.0]], type=pa.list_(pa.float32()))
    with pytest.raises(ValueError, match="ragged"):
        flat_matrix(ragged, 2)


def test_flat_matrix_packed_and_variable_binary():
    """Packed layouts decode identically whether the column arrives as
    fixed_size_binary (pyarrow scan) or plain binary (after a Spark JVM
    crossing, which has no fixed-width binary type) — r14, for the
    write_packed_index round-trip and the x17 entry."""
    import numpy as np
    import pyarrow as pa

    from laion_spark.operators.knn import flat_matrix

    dim = 4
    vals = np.arange(8, dtype=np.float32).reshape(2, dim) / 7.0
    raw = vals.tobytes()
    fsb = pa.array([raw[:16], raw[16:]], type=pa.binary(4 * dim))
    var = pa.array([raw[:16], raw[16:]], type=pa.binary())
    large = pa.array([raw[:16], raw[16:]], type=pa.large_binary())
    want = vals.astype(np.float64)
    for col in (fsb, var, large):
        got = flat_matrix(col, dim)
        assert got.shape == (2, dim)
        assert (got == want).all(), col.type
    # f16 and i8 widths dispatch from variable binary too
    h = vals.astype(np.float16).tobytes()
    var16 = pa.array([h[:8], h[8:]], type=pa.binary())
    assert np.allclose(flat_matrix(var16, dim), want, atol=1e-3)
    codes = np.array([[1, -2, 3, -4], [5, -6, 7, 127]], dtype=np.int8)
    vari8 = pa.array([codes[0].tobytes(), codes[1].tobytes()], type=pa.binary())
    assert (flat_matrix(vari8, dim) == codes.astype(np.float64)).all()
    # ragged packed widths fail loudly
    bad = pa.array([raw[:16], raw[16:24]], type=pa.binary())
    with pytest.raises(ValueError, match="ragged|width"):
        flat_matrix(bad, dim)
    # sliced (non-zero offset) variable binary decodes the right rows
    sl = var.slice(1, 1)
    assert (flat_matrix(sl, dim) == want[1:]).all()


def test_knn_cosine_and_dot(spark, emb):
    for metric in ("cosine", "dot"):
        out = knn_search(
            emb, QVEC, k=5, vector_col="embedding", metric=metric, select=["vec_id"], tiebreak=["vec_id"]
        ).collect()
        assert len(out) == 5
        scores = [r.score for r in out]
        assert scores == sorted(scores, reverse=True)


def test_list_parquet_files_local_and_remote(monkeypatch, tmp_path):
    """_list_parquet_files (R7 seam): local paths/dirs stay on
    LocalFileSystem with no network; remote URIs resolve ONCE (S3
    region lookup is a network call per from_uri) and the rest map by
    prefix stripping; probed-but-missing dirs (empty clusters) are
    skipped; mixed filesystems rejected."""
    import pyarrow.fs as pafs

    import laion_spark.operators.knn as knn_mod
    from laion_spark.operators.knn import _list_parquet_files

    d = tmp_path / "tbl"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"x")
    (d / "b.parquet").write_bytes(b"x")
    (d / "_SUCCESS").write_bytes(b"")

    fs, files, remote = _list_parquet_files([str(d)])
    assert isinstance(fs, pafs.LocalFileSystem) and not remote
    assert [f.rsplit("/", 1)[1] for f in files] == ["a.parquet", "b.parquet"]

    # missing dir (empty ANN cluster) skipped, not fatal
    fs, files, remote = _list_parquet_files([str(d), str(tmp_path / "nope")])
    assert len(files) == 2

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        _list_parquet_files([str(tmp_path / "nope")])

    calls = []

    def fake(uri):
        calls.append(uri)
        return pafs.LocalFileSystem(), uri[len("s3://bkt"):]

    monkeypatch.setattr(knn_mod, "_fs_from_uri", fake)
    fs, files, remote = _list_parquet_files(
        [f"s3a://bkt{d}/a.parquet", f"s3://bkt{d}/b.parquet"]
    )
    assert remote and [f.rsplit("/", 1)[1] for f in files] == ["a.parquet", "b.parquet"]
    assert calls == [f"s3://bkt{d}/a.parquet"]  # exactly one resolution

    with _pytest.raises(ValueError, match="mixed filesystems"):
        _list_parquet_files([f"s3://bkt{d}/a.parquet", "gs://other/y.parquet"])


def test_knn_parquet_task_table_fallback(spark, sf_dir, monkeypatch):
    """Above _TASKS_INLINE_MAX splits the scorer ships (path, row_group)
    rows through the task-table shuffle instead of the task closure
    (100 TB-scale listings must not bloat the broadcast task binary);
    both dispatch modes must return identical rows."""
    from laion_spark.operators import knn as knn_mod
    from laion_spark.operators.knn import knn_search_parquet

    path = f"{sf_dir}/embeddings.parquet"
    inline = [
        (r.vec_id, round(r.score, 6))
        for r in knn_search_parquet(spark, path, QVEC, k=7, vector_col="embedding", select=["vec_id"]).collect()
    ]
    monkeypatch.setattr(knn_mod, "_TASKS_INLINE_MAX", 0)
    shuffled = [
        (r.vec_id, round(r.score, 6))
        for r in knn_search_parquet(spark, path, QVEC, k=7, vector_col="embedding", select=["vec_id"]).collect()
    ]
    assert inline == shuffled


def test_scale_rows_inplace_and_view_fallback():
    """r15: _scale_rows_inplace must multiply in place ONLY for owned writeable
    matrices (SQ8/f16 astype copies) and fall back to allocating for
    zero-copy views, with identical values either way."""
    import numpy as np

    from laion_spark.operators.knn import _scale_rows_inplace

    scales = np.asarray([0.5, 2.0, 1.5], dtype=np.float32)
    # mirror the decode path's shape: reshape THEN astype, so the
    # resulting matrix owns its buffer (a bare reshape is a view)
    owned = np.arange(12, dtype=np.int8).reshape(3, 4).astype(np.float32)
    want = owned * scales[:, None]
    got = _scale_rows_inplace(owned, scales)
    assert got is owned  # mutated in place, no second temporary
    assert np.array_equal(got, want)

    base = np.arange(12, dtype=np.float32).reshape(3, 4)
    base.setflags(write=False)
    view = base[:]
    got2 = _scale_rows_inplace(view, scales)
    assert got2 is not view  # read-only view: allocating fallback
    assert np.array_equal(got2, want)
    assert np.array_equal(base, np.arange(12, dtype=np.float32).reshape(3, 4))

    owned64 = np.arange(12, dtype=np.int8).reshape(3, 4).astype(np.float64)
    got3 = _scale_rows_inplace(owned64, scales)
    assert got3.dtype == np.float64
    assert np.array_equal(got3, np.arange(12).reshape(3, 4) * scales.astype(np.float64)[:, None])


@pytest.fixture(scope="module")
def scan_table(tmp_path_factory):
    """A 600 x 16 table in 4 files of 3 row groups each, and its
    vectors for a numpy reference."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(21)
    X = rng.standard_normal((600, 16)).astype(np.float32)
    root = tmp_path_factory.mktemp("scan_table")
    for f in range(4):
        rows = slice(150 * f, 150 * f + 150)
        pq.write_table(pa.table({
            "id": pa.array(np.arange(600)[rows]),
            "url": [f"u{i}" for i in range(600)[rows]],
            "embedding": pa.array(list(X[rows]), pa.list_(pa.float32())),
        }), str(root / f"part-{f}.parquet"), row_group_size=50)
    return str(root), X


def _nearest(X, q, k=10):
    import numpy as np

    d = ((X.astype(np.float64) - np.asarray(q)) ** 2).sum(axis=1)
    return np.lexsort((np.arange(len(X)), d))[:k].tolist()


def test_scan_lane_results_do_not_depend_on_collect_order(spark, scan_table):
    """Queries built on one ScanPlan, then collected in the reverse
    order, interleaved with new builds: each gets its own rows, and
    all of them run one prepared plan."""
    import numpy as np

    from laion_spark.operators.knn import knn_search_parquet

    path, X = scan_table
    plan = build_scan_plan(path)
    qs = [np.random.default_rng(j).standard_normal(16).tolist() for j in range(4)]

    def search(q):
        return knn_search_parquet(spark, path, q, k=10, vector_col="embedding", select=["id"], plan=plan)

    a, b = search(qs[0]), search(qs[1])
    assert [r.id for r in b.collect()] == _nearest(X, qs[1])
    c = search(qs[2])
    assert [r.id for r in a.collect()] == _nearest(X, qs[0])
    d = search(qs[3])
    for res, q in ((d, qs[3]), (c, qs[2]), (b, qs[1]), (a, qs[0])):
        assert [r.id for r in res.collect()] == _nearest(X, q)
    assert len(plan.prepared) == 1
    for q in qs:
        assert [i for i, _ in scan_rows(lambda: search(q))] == _nearest(X, q)


def test_scan_lane_result_is_a_whole_dataframe(spark, scan_table):
    """Transformations and other actions on a scan-lane result see the
    same rows as its collect()."""
    from laion_spark.operators.knn import knn_search_parquet

    path, X = scan_table
    plan = build_scan_plan(path)
    q = [0.5] * 16
    kw = dict(k=7, vector_col="embedding", select=["url", "id"], plan=plan)
    want = [(r.url, r.id, r.score) for r in knn_search_parquet(spark, path, q, **kw).collect()]
    assert [i for _, i, _ in want] == _nearest(X, q, 7)
    res = knn_search_parquet(spark, path, q, **kw)
    assert [(r.url, r.id, r.score) for r in res.select("url", "id", "score").collect()] == want
    assert knn_search_parquet(spark, path, q, **kw).count() == 7
    pdf = knn_search_parquet(spark, path, q, **kw).toPandas()
    assert list(pdf.itertuples(index=False, name=None)) == want
    assert res.columns == ["url", "id", "score"]
    assert [(r.url, r.id, r.score) for r in res.collect()] == want  # now via its own plan


def test_scan_lane_threads_share_one_plan(spark, scan_table):
    """More threads than cores query one ScanPlan at once, from its
    first (unbuilt) collect on, with a short switch interval: the
    vector is bound per thread, so each gets its own answer, and all
    of them share one prepared query."""
    import sys
    import threading

    import numpy as np

    from laion_spark.operators.knn import knn_search_parquet

    path, X = scan_table
    plan = build_scan_plan(path)
    n = 6
    qs = [np.random.default_rng(100 + j).standard_normal(16).tolist() for j in range(n)]
    start, errors, got = threading.Barrier(n), [], {t: [] for t in range(n)}

    def worker(t):
        try:
            start.wait(timeout=60)
            for _ in range(3):
                res = knn_search_parquet(spark, path, qs[t], k=10, vector_col="embedding", select=["id"], plan=plan)
                got[t].append([r.id for r in res.collect()])
        except Exception as e:  # surfaced below, in the test's thread
            errors.append(e)

    was = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(n)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=240)
    finally:
        sys.setswitchinterval(was)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    for t in range(n):
        assert got[t] == [_nearest(X, qs[t])] * 3, t
    assert len(plan.prepared) == 1


def test_unbound_prepared_plan_fails_loudly_and_binding_is_restored(spark, scan_table):
    """The prepared plan run with no vector bound raises
    UnboundQueryError instead of answering another query; a collect
    that fails inside a task (a query of the wrong dim) leaves the
    thread's local property as it was."""
    from laion_spark.operators import knn as knn_mod
    from laion_spark.operators.knn import knn_search_parquet

    path, X = scan_table
    sc = spark.sparkContext
    plan = build_scan_plan(path)
    kw = dict(k=5, vector_col="embedding", select=["id"], plan=plan)
    assert [r.id for r in knn_search_parquet(spark, path, [1.0] * 16, **kw).collect()] == _nearest(X, [1.0] * 16, 5)
    (query,) = plan.prepared.values()
    assert sc.getLocalProperty(knn_mod._BINDING_KEY) is None
    with pytest.raises(Exception, match="UnboundQueryError"):
        query.prepared().collect()
    sc.setLocalProperty(knn_mod._BINDING_KEY, "prior")
    try:
        with pytest.raises(Exception, match="ragged embedding column"):
            knn_search_parquet(spark, path, [1.0] * 3, **kw).collect()
        assert sc.getLocalProperty(knn_mod._BINDING_KEY) == "prior"
    finally:
        sc.setLocalProperty(knn_mod._BINDING_KEY, None)
    assert [r.id for r in knn_search_parquet(spark, path, [-1.0] * 16, **kw).collect()] == _nearest(X, [-1.0] * 16, 5)


def test_prepared_plan_metrics_read_per_collect(spark, scan_table):
    """The SQLMetrics of the one physical plan every bound collect
    re-runs are reset by each collect, not summed across them: the
    scorer's MapInArrow reports this query's rows (one split's k best
    per split) after the third collect as after the first."""
    from laion_spark.operators.knn import knn_search_parquet

    path, _X = scan_table
    plan = build_scan_plan(path)

    def rows_received():
        (query,) = plan.prepared.values()
        node = query.prepared()._jdf.queryExecution().executedPlan()
        found = []

        def walk(p):
            if p.getClass().getSimpleName() == "MapInArrowExec":
                found.append(p.metrics().apply("pythonNumRowsReceived").value())
            ch = p.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(node)
        return found

    reads = []
    for j in range(3):
        knn_search_parquet(spark, path, [float(j)] * 16, k=4, vector_col="embedding", select=["id"], plan=plan).collect()
        reads.append(rows_received())
    assert reads == [[4 * len(plan.tasks)]] * 3
