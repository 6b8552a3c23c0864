import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


@pytest.fixture(scope="session")
def spark():
    from laion_spark.session import get_session

    s = get_session("laion_spark_tests", cpus=min(8, os.cpu_count() or 4))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle setup."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def write_list_f16_twin(src: str, dst: str, col: str = "embedding") -> None:
    """Rewrite every parquet file under ``src`` into ``dst`` (same
    relative paths, so ``ivf_cluster=K`` dirs survive) with ``col``
    cast to list<float16> — tables in that layout exist in the wild and
    the scan scorer must still read them, though the engine no longer
    writes it."""
    import glob

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from laion_spark.operators.knn import flat_matrix

    files = [src] if os.path.isfile(src) else glob.glob(f"{src}/**/*.parquet", recursive=True)
    for f in files:
        rel = os.path.relpath(f, src) if f != src else os.path.basename(f)
        out = os.path.join(dst, rel)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        t = pq.read_table(f, partitioning=None)
        i = t.schema.get_field_index(col)
        vec = t.column(col).combine_chunks()
        if pa.types.is_fixed_size_binary(vec.type):  # packed f32 (IVFIndex.write_index)
            dim = vec.type.byte_width // 4
            offs = np.arange(0, (len(vec) + 1) * dim, dim, dtype=np.int32)
            flat = flat_matrix(vec, dim, np.float32).ravel()
            vec = pa.ListArray.from_arrays(pa.array(offs), pa.array(flat))
        t = t.set_column(i, col, vec.cast(pa.list_(pa.float16())))
        pq.write_table(t, out)


def scan_rows(make, id_col="id"):
    """``(id, round(score, 9))`` rows of a scan-lane query (``make()``
    returns a fresh ``knn_search_parquet`` or ``IVFIndex.search_parquet``
    result), asserted equal on its two routes: the prepared plan that
    ``collect()`` binds, and the self-contained plan that ``_jdf``
    builds on first touch. A NaN score reads as None."""
    from pyspark.sql.classic.dataframe import DataFrame

    def rows(got):
        return [(r[id_col], None if r.score is None or r.score != r.score else round(r.score, 9))
                for r in got]

    prepared = rows(make().collect())
    res = make()
    contained = rows(DataFrame(res._jdf, res.sparkSession).collect())
    assert prepared == contained
    return prepared


def canon(rows, ndigits=6):
    """Canonicalize rows for order-insensitive comparison: floats
    rounded, everything stringified, rows sorted."""
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                v = round(v, ndigits)
                if v == 0.0:
                    v = 0.0  # normalize -0.0
            s = str(v)
            # DuckDB surfaces DATE as midnight datetime through
            # fetchall; Spark DATE stays datetime.date — normalize both
            # to YYYY-MM-DD (same rule as the driver / driver_mirror)
            vals.append(s[:-9] if s.endswith(" 00:00:00") else s)
        out.append(tuple(vals))
    return sorted(out)


def assert_matches_oracle(spark_df, con, sql, ndigits=6):
    got = canon([tuple(r) for r in spark_df.collect()], ndigits)
    want = canon(con.execute(sql).fetchall(), ndigits)
    assert len(got) == len(want), f"row count {len(got)} != oracle {len(want)}"
    assert got == want
