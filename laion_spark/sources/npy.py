"""Bulk ETL: LAION shard layout -> the engine's fact table
(SURVEY.md §2.1 S1-S5, §3.3; reference /root/reference/process.py).

Input layout per shard id (process.py:109-114):
    metadata/metadata_{id}.parquet       # row metadata
    img_emb/img_emb_{id}.npy             # row-aligned float32 matrix
    text_emb/text_emb_{id}.npy           # row-aligned float32 matrix

The join between metadata and the .npy matrices is POSITIONAL (row i of
the parquet matches row i of the matrix — process.py:58-72 advances a
running offset). That is the one genuinely non-relational operation in
the reference; the distributed answer is file-granular parallelism:
every shard is processed whole, in order, by one task, so the
positional join needs no global row_number. The shards are the task
list of ``knn._run_splits``: one shuffle-free stage whose
``min(shards, defaultParallelism)`` tasks each take their round-robin
share of the shards one after another, and no embedding payload is
ever shuffled.

Per-shard pipeline (mirrors process.py:53-78):
    iterate metadata in 65536-row batches (S1)  ->
    slice the mmap'd matrices by running offset (S2/S3) ->
    zero-fill a missing matrix (S4, process.py:26-34) ->
    clean curly quotes from captions (P5, process.py:75) ->
    parse exif JSON -> map (P6, process.py:76) ->
    project to the declared schema (P2, process.py:74)

Scale posture: laion2B-en is ~2314 shards of uniform size (no skew),
so a 1000-core cluster runs two or three shards per task with linear
scan I/O. The output lands either through Spark's schema-enforced zstd
parquet sink (``etl_shards`` + ``write_fact_table``) or, one file per
shard, from inside the task (``etl_shards_to_parquet``; S5,
process.py:49-50).
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import astuple, dataclass

from pyspark.sql import DataFrame, SparkSession

from laion_spark.schema import LAION_SCHEMA

#: reference batch size (process.py:22)
BATCH_ROWS = 65536

_SHARD_RE = re.compile(r"metadata_(\d+)\.parquet$")


@dataclass(frozen=True)
class Shard:
    shard_id: int
    metadata_path: str
    img_emb_path: str | None
    text_emb_path: str | None


def discover_shards(input_dir: str) -> list[Shard]:
    """Glob + numeric-sort shard ids (process.py:109-114). Missing
    .npy files are recorded as None -> zero-fill downstream (S4)."""
    shards = []
    for p in sorted(glob.glob(os.path.join(input_dir, "metadata", "metadata_*.parquet"))):
        m = _SHARD_RE.search(p)
        if not m:
            continue
        sid = int(m.group(1))
        img = os.path.join(input_dir, "img_emb", f"img_emb_{sid}.npy")
        txt = os.path.join(input_dir, "text_emb", f"text_emb_{sid}.npy")
        shards.append(
            Shard(
                shard_id=sid,
                metadata_path=p,
                img_emb_path=img if os.path.exists(img) else None,
                text_emb_path=txt if os.path.exists(txt) else None,
            )
        )
    return sorted(shards, key=lambda s: s.shard_id)


def _run_shards(spark: SparkSession, shards: list[Shard], per_shard, out_schema) -> DataFrame:
    """Run ``per_shard(shard)`` (a generator of Arrow batches) once per
    shard, each shard whole inside one task, through ``_run_splits``."""
    from laion_spark.operators.knn import _run_splits

    tasks = [astuple(s) for s in shards]
    ddl = "shard_id int, metadata_path string, img_emb_path string, text_emb_path string"
    return _run_splits(spark, tasks, ddl, lambda *t: per_shard(Shard(*t)), out_schema)


def _emb_list_array(mat, offset: int, n: int, dim: int):
    """Row-aligned matrix slice [offset, offset+n) as a flat Arrow
    list<float32> array — one contiguous copy off the mmap, never a
    Python object per row. ``mat=None`` zero-fills (S4)."""
    import numpy as np
    import pyarrow as pa

    if mat is None:
        flat = np.zeros(n * dim, dtype=np.float32)
    else:
        flat = np.ascontiguousarray(mat[offset : offset + n], dtype=np.float32).ravel()
        if flat.size != n * dim:
            raise ValueError(
                f"embedding shard misaligned: need rows [{offset}, {offset + n}) "
                f"x dim {dim} but matrix slice yields {flat.size} values "
                f"(matrix shape {mat.shape}) — truncated .npy or metadata/shard "
                "row-count mismatch"
            )
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(flat, type=pa.float32()))


def _process_shard_batches(shard: Shard, dim: int):
    """Yield Arrow RecordBatches for one shard — the reference's
    per-shard loop (process.py:14-92) minus the writer.

    Arrow-native on purpose: the original pandas formulation built one
    Python ndarray object PER ROW for each embedding column and paid
    the object-column -> Arrow conversion on the way out (~5k rows/s
    at dim=768, same pathology the bench's synth_vectors docstring
    records); flat ListArray builds + vectorized string compute move
    the pipeline to near-memcpy, with only the exif JSON parse left
    per-row (small strings, unavoidable for a map column)."""
    import numpy as np  # noqa: F401  (via _emb_list_array)
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    img = np.load(shard.img_emb_path, mmap_mode="r") if shard.img_emb_path else None
    txt = np.load(shard.text_emb_path, mmap_mode="r") if shard.text_emb_path else None
    out_fields = [
        (
            f.name,
            pa.map_(pa.string(), pa.string())
            if f.name == "exif"
            else pa.list_(pa.float32())
            if f.name in ("text_embedding", "image_embedding")
            else pa.float64()
            if f.dataType.simpleString() == "double"
            else pa.int64()
            if f.dataType.simpleString() == "bigint"
            else pa.string(),
        )
        for f in LAION_SCHEMA.fields
    ]
    offset = 0
    pf = pq.ParquetFile(shard.metadata_path)
    for batch in pf.iter_batches(batch_size=BATCH_ROWS):
        n = batch.num_rows
        cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}

        # P5 curly-quote cleanup, vectorized (process.py:75)
        cap = cols["caption"]
        for q in ("’", "‘"):
            cap = pc.replace_substring(cap, pattern=q, replacement=" ")
        cols["caption"] = cap

        # P6 exif JSON -> map (process.py:76) — per-row parse of small
        # strings; the one remaining scalar loop
        exif_src = cols.get("exif_json", cols.get("exif"))
        parsed = [
            json.loads(s) if isinstance(s, str) else {} for s in exif_src.to_pylist()
        ]
        cols["exif"] = pa.array(parsed, type=pa.map_(pa.string(), pa.string()))

        cols["image_embedding"] = _emb_list_array(img, offset, n, dim)
        cols["text_embedding"] = _emb_list_array(txt, offset, n, dim)
        offset += n

        arrays = [cols[name].cast(typ) for name, typ in out_fields]  # P2 projection
        yield pa.RecordBatch.from_arrays(arrays, [name for name, _ in out_fields])


def etl_shards(spark: SparkSession, input_dir: str, dim: int = 768) -> DataFrame:
    """The distributed ETL: every shard is assembled whole by one task
    of a shuffle-free stage (``_run_shards``), the analog of the
    reference's ``mp.Pool`` workers (process.py:115-118)."""
    shards = discover_shards(input_dir)
    if not shards:
        raise FileNotFoundError(f"no metadata_*.parquet under {input_dir}/metadata")
    return _run_shards(spark, shards, lambda shard: _process_shard_batches(shard, dim), LAION_SCHEMA)


def write_fact_table(df: DataFrame, path: str, compression: str = "zstd") -> None:
    """Schema-enforced compressed sink (S5, process.py:49-50)."""
    df.write.mode("overwrite").option("compression", compression).parquet(path)


def etl_shards_to_parquet(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    dim: int = 768,
    compression: str = "zstd",
) -> DataFrame:
    """Shard ETL with the SINK inside the task — full process.py parity
    (each reference worker writes its own output file, process.py:49-50
    + 115-118): every task assembles its shard's Arrow batches and
    streams them straight into a pyarrow ParquetWriter, so the wide
    embedding columns never convert to JVM rows. Measured at 32 shards
    x 16,384 x 768-d: the generic JVM sink (``etl_shards`` +
    ``write_fact_table``) pays ~4x the assembly cost in row conversion
    alone (~1.9 s assemble vs ~9 s assemble+write, codec-independent);
    this path removes that conversion. Output is one file per shard —
    file-granular parallelism, no shuffle, same layout the reference
    emits; each file appears under its final name only once complete
    (``halfvec._write_part_file``).
    Returns (path, rows) per shard; local/NFS-style paths (the
    fixture/bench shape) — route remote stores through pyarrow.fs like
    the scan side if needed."""
    shards = discover_shards(input_dir)
    if not shards:
        raise FileNotFoundError(f"no metadata_*.parquet under {input_dir}/metadata")
    os.makedirs(out_dir, exist_ok=True)

    def write_shard(shard):
        from laion_spark.sources.halfvec import _write_part_file

        dst = os.path.join(out_dir, f"part-{shard.shard_id:05d}.parquet")
        yield _write_part_file(dst, _process_shard_batches(shard, dim), compression)

    return _run_shards(spark, shards, write_shard, "path string, rows long")


def save_as_table(
    df: DataFrame,
    table: str,
    path: str | None = None,
    bucket_by: str | None = None,
    n_buckets: int = 32,
    partition_by: str | list[str] | None = None,
    compression: str = "zstd",
) -> None:
    """S6: managed-table sink — register the fact table in the session
    catalog so queries address it by NAME (``spark.table``/SQL), the
    way the reference's users address ``laion_10m``/``laion_100m``
    (search.py:165 ``--table``) rather than file paths.

    ``path`` makes it an EXTERNAL table at that location (no dependence
    on ``spark.sql.warehouse.dir``, which is fixed at session start).
    ``bucket_by`` pre-shuffles on the given key at WRITE time
    (``bucketBy(n_buckets) + sortBy``): every later equi-join or
    aggregation on that key then plans with zero Exchange — at 100 TB
    the ingest pays the one shuffle all queries would otherwise repeat
    (co-located-join plan pinned in tests/test_plans.py).
    ``partition_by`` adds Hive-style directory partitioning for
    partition-pruned scans (the IVF layout uses the same mechanism).
    """
    w = df.write.mode("overwrite").format("parquet").option("compression", compression)
    if path is not None:
        w = w.option("path", path)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = w.partitionBy(*cols)
    if bucket_by is not None:
        w = w.bucketBy(n_buckets, bucket_by).sortBy(bucket_by)
    w.saveAsTable(table)


def shard_report(spark: SparkSession, input_dir: str, dim: int = 768) -> DataFrame:
    """Per-shard error ledger (X3, process.py:87-92, 119-121): runs the
    same per-shard pipeline under try/except, one result row per shard
    {shard_id, success, rows, error}."""

    def report(shard):
        import pyarrow as pa

        try:
            rows, error = sum(b.num_rows for b in _process_shard_batches(shard, dim)), None
        except Exception as e:  # ledger, not fail-fast (X3)
            rows, error = 0, str(e)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([shard.shard_id], pa.int32()),
                pa.array([error is None]),
                pa.array([rows], pa.int64()),
                pa.array([error], pa.string()),
            ],
            ["shard_id", "success", "rows", "error"],
        )

    return _run_shards(
        spark, discover_shards(input_dir), report, "shard_id int, success boolean, rows long, error string"
    )
