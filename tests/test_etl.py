"""ETL golden test (FIXTURES.md §2): running the engine's ETL over the
reference-layout shards must reproduce laion_mini exactly, except
shard-1 text_embedding = zeros (the deliberately missing matrix)."""

import pytest
from pyspark.sql import functions as F

from laion_spark.schema import LAION_SCHEMA, validate_embeddings
from laion_spark.sources.npy import discover_shards, etl_shards, shard_report
from tests.fixtures_gen import ensure_fixtures


@pytest.fixture(scope="module")
def fixtures():
    return ensure_fixtures()


def test_discover(fixtures):
    shards = discover_shards(f"{fixtures}/etl_input")
    assert [s.shard_id for s in shards] == [0, 1]
    assert shards[0].text_emb_path is not None
    assert shards[1].text_emb_path is None  # missing -> zero-fill


def test_etl_golden_assembly(spark, fixtures):
    got = etl_shards(spark, f"{fixtures}/etl_input", dim=8)
    assert got.schema == LAION_SCHEMA
    got_rows = {r.key: r for r in got.collect()}
    want_rows = {r.key: r for r in spark.read.parquet(f"{fixtures}/laion_mini.parquet").collect()}
    assert len(got_rows) == len(want_rows) == 1000
    n_quote_cleaned = 0
    for key, want in want_rows.items():
        g = got_rows[key]
        assert g.url == want.url
        # caption curly quotes cleaned (P5): fixture rows i%50==0 carry one
        if "’" in want.caption:
            n_quote_cleaned += 1
            assert "’" not in g.caption
            assert g.caption == want.caption.replace("’", " ")
        else:
            assert g.caption == want.caption
        assert g.similarity == want.similarity
        assert (g.width, g.height, g.status, g.nsfw) == (want.width, want.height, want.status, want.nsfw)
        assert g.exif == want.exif  # P6 json -> map
        assert g.image_embedding == pytest.approx(want.image_embedding)
        if int(key) < 500:
            assert g.text_embedding == pytest.approx(want.text_embedding)
        else:
            assert g.text_embedding == [0.0] * 8  # S4 zero-fill
    assert n_quote_cleaned == 20


def test_shard_report_ledger(spark, fixtures, tmp_path):
    rep = {r.shard_id: r for r in shard_report(spark, f"{fixtures}/etl_input", dim=8).collect()}
    assert rep[0].success and rep[0].rows == 500
    assert rep[1].success and rep[1].rows == 500

    # corrupt shard -> error row, not job failure (X3)
    import shutil

    bad = tmp_path / "etl_bad"
    shutil.copytree(f"{fixtures}/etl_input", bad)
    (bad / "metadata" / "metadata_1.parquet").write_bytes(b"not a parquet file")
    rep2 = {r.shard_id: r for r in shard_report(spark, str(bad), dim=8).collect()}
    assert rep2[0].success
    assert not rep2[1].success and rep2[1].error


def test_etl_runs_each_shard_in_its_own_partition_without_shuffle(spark, fixtures):
    """Shards fan out over the shuffle-free ``_run_splits`` stage: with
    no more shards than cores each output partition holds exactly one
    shard (keys < 500 are shard 0), and the plan has no Exchange."""
    df = etl_shards(spark, f"{fixtures}/etl_input", dim=8)
    got = (
        df.select(F.spark_partition_id().alias("pid"), (F.col("key").cast("int") < 500).alias("shard0"))
        .groupBy("pid")
        .agg(F.collect_set("shard0").alias("shards"))
        .collect()
    )
    assert sorted(r.shards for r in got) == [[False], [True]], got
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_validate_embeddings(spark, fixtures):
    df = spark.read.parquet(f"{fixtures}/laion_mini.parquet")
    ok = validate_embeddings(df, dim=8)
    assert ok.count() == 1000  # all rows pass the dim check
    bad = spark.createDataFrame([("k", [1.0, 2.0])], "key string, text_embedding array<float>")
    with pytest.raises(Exception, match="bad text_embedding dim"):
        validate_embeddings(bad, cols=("text_embedding",), dim=8).collect()


def test_roundtrip_write_read(spark, fixtures, tmp_path):
    from laion_spark.sources.npy import write_fact_table

    df = etl_shards(spark, f"{fixtures}/etl_input", dim=8)
    out = str(tmp_path / "fact.parquet")
    write_fact_table(df, out)
    back = spark.read.parquet(out)
    assert back.schema == LAION_SCHEMA
    assert back.count() == 1000


def test_etl_direct_sink_matches_generic_sink(spark, fixtures, tmp_path):
    """etl_shards_to_parquet (writer inside the task, process.py parity)
    must produce byte-equivalent CONTENT to the generic JVM sink: same
    rows, same values, one file per shard."""
    from laion_spark.sources.npy import etl_shards, etl_shards_to_parquet

    out = str(tmp_path / "direct")
    res = etl_shards_to_parquet(spark, f"{fixtures}/etl_input", out, dim=8).collect()
    assert len(res) == len({r.path for r in res})  # one file per shard
    direct = spark.read.parquet(out)
    generic = etl_shards(spark, f"{fixtures}/etl_input", dim=8)
    assert direct.count() == sum(r.rows for r in res) == generic.count()
    cols = [c for c in generic.columns if c != "exif"]  # map compares poorly in sets
    a = {tuple(str(v) for v in r) for r in direct.select(cols).collect()}
    b = {tuple(str(v) for v in r) for r in generic.select(cols).collect()}
    assert a == b
    # exif maps compare row-aligned by key
    ea = {r.key: sorted((r.exif or {}).items()) for r in direct.select("key", "exif").collect()}
    eb = {r.key: sorted((r.exif or {}).items()) for r in generic.select("key", "exif").collect()}
    assert ea == eb


def test_etl_direct_sink_leaves_no_partial_shard(spark, fixtures, tmp_path):
    """A shard that fails after its first 65,536-row batch was written
    (its text_emb .npy is 50 rows short) must leave no readable part
    file, and no temp file, behind: the failed job's output is empty."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from laion_spark.sources.npy import BATCH_ROWS, etl_shards_to_parquet

    n = BATCH_ROWS + 100
    src = tmp_path / "etl_short"
    for d in ("metadata", "img_emb", "text_emb"):
        os.makedirs(src / d)
    meta = pq.read_table(f"{fixtures}/etl_input/metadata/metadata_0.parquet")
    pq.write_table(pa.concat_tables([meta] * (n // meta.num_rows + 1)).slice(0, n),
                   str(src / "metadata" / "metadata_0.parquet"))
    rng = np.random.default_rng(3)
    np.save(src / "img_emb" / "img_emb_0.npy", rng.standard_normal((n, 8)).astype(np.float32))
    np.save(src / "text_emb" / "text_emb_0.npy", rng.standard_normal((n - 50, 8)).astype(np.float32))
    out = tmp_path / "out"
    with pytest.raises(Exception, match="misaligned"):
        etl_shards_to_parquet(spark, str(src), str(out), dim=8).collect()
    assert os.listdir(out) == []


def test_etl_direct_sink_task_table_matches_inline(spark, fixtures, tmp_path, monkeypatch):
    """Above ``_TASKS_INLINE_MAX`` tasks the shards travel as a task
    table (``createDataFrame(tasks, task_ddl)``); shard 1's NULL
    ``text_emb_path`` must survive it, so both dispatch modes write the
    same rows."""
    import os

    import pyarrow.parquet as pq

    from laion_spark.operators import knn as knn_mod
    from laion_spark.sources.npy import etl_shards_to_parquet

    def run(out):
        job = etl_shards_to_parquet(spark, f"{fixtures}/etl_input", out, dim=8)
        plan = job._jdf.queryExecution().executedPlan().toString()
        res = sorted((os.path.basename(r.path), r.rows) for r in job.collect())
        return plan, res, pq.read_table(out).sort_by("key").to_pylist()

    inline = run(str(tmp_path / "inline"))
    monkeypatch.setattr(knn_mod, "_TASKS_INLINE_MAX", 0)
    table = run(str(tmp_path / "table"))
    # premise: the inline run is one shuffle-free stage, and the patched
    # run really took the task-table branch (its round-robin exchange)
    assert "Exchange" not in inline[0], inline[0]
    assert "RoundRobinPartitioning" in table[0], table[0]
    assert inline[1] == table[1] == [("part-00000.parquet", 500), ("part-00001.parquet", 500)]
    assert inline[2] == table[2]
    assert all(r["text_embedding"] == [0.0] * 8 for r in table[2] if int(r["key"]) >= 500)
