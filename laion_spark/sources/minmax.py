"""File-level min/max data skipping over a sort-keyed parquet layout —
the ClickHouse MergeTree ORDER BY / primary-index analog (SURVEY.md
§2.16; reference north star: ClickHouse reads primary.idx and skips
whole granules whose key range misses the predicate).

Spark's built-in parquet reader already skips ROW GROUPS whose
footer statistics miss a pushed filter, but it still opens every
file's footer at runtime. When the layout is key-sorted across files
(``repartitionByRange(key).sortWithinPartitions(key)`` — the
MergeTree ``ORDER BY`` write discipline), each file covers a narrow,
nearly disjoint key range, so file-level pruning from footer stats
alone eliminates most of the scan BEFORE Spark plans a single task:

    planning:  read N footers (metadata-only, ~KB each)      driver
    execution: scan only the files whose [min,max] intersects  tasks

At 100 TB / object storage the footer pass is exactly ClickHouse's
primary-index read (one small metadata object per part), and the
residual in-file filter still row-group-prunes via the same stats.
The pruning decision is conservative: files without stats for the
key column are KEPT, so the result is always correct, just less
pruned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def _footer_stats(path: str, column: str):
    """``(n_rows, key_range)`` of a parquet file from its footer alone:
    ``key_range`` is ``column``'s (min, max) across the row groups, or
    None when the column is missing, any row group lacks min/max stats,
    or the file has no row groups (an empty part file has no range —
    callers keep it rather than compare against None)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    if column not in idx:
        return md.num_rows, None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx[column]).statistics
        if st is None or not st.has_min_max:
            return md.num_rows, None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return md.num_rows, None if lo is None else (lo, hi)


def _file_key_range(path: str, column: str):
    """(min, max) of ``column`` across a parquet file's row groups from
    footer statistics only, or None when no such range is known."""
    return _footer_stats(path, column)[1]


def collect_file_stats(
    spark: SparkSession,
    tasks: list,
    column: str,
    distributed_threshold: int = 64,
) -> list:
    """Per-FILE footer statistics for a list of ``(part_label,
    file_path)`` tasks — the system.parts metadata read (reference
    analog: ClickHouse reads one small primary.idx/count per part
    instead of scanning it). Returns one tuple per file:
    ``(part_label, n_rows, key_min, key_max, has_stats)``.

    Up to ``distributed_threshold`` files the driver reads the footers
    itself (a handful of ~KB metadata reads — the fast path every
    interactive parts query wants). Above it the reads fan out through
    ``knn._run_splits`` — one footer open per file, only the tiny stats
    rows return — so a 10^5-10^6-part listing never serializes on the
    driver (VERDICT r9 #6). Both paths are result-identical
    (unit-pinned in tests/test_footer_stats.py).

    ``has_stats=False`` (missing column, no row groups, or any row
    group without min/max) means the caller must scan that part — the
    range is never guessed. Integer key columns only: the distributed
    schema declares long min/max (the MergeTree ORDER BY key analog)."""

    def file_stats(path: str):
        n, rng = _footer_stats(path, column)
        return (n, None, None, False) if rng is None else (n, *rng, True)

    if len(tasks) <= distributed_threshold:
        return [(p, *file_stats(f)) for p, f in tasks]

    def read_footer(i, part, path):
        import pyarrow as pa

        n, lo, hi, ok = file_stats(path)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([i], pa.int64()),
                pa.array([part], pa.string()),
                pa.array([n], pa.int64()),
                pa.array([lo], pa.int64()),
                pa.array([hi], pa.int64()),
                pa.array([ok]),
            ],
            ["i", "part", "n_rows", "key_min", "key_max", "has_stats"],
        )

    from laion_spark.operators.knn import _run_splits

    # the round-robin dispatch scatters the tasks, so each row carries
    # its task index and the result is put back in task order
    rows = _run_splits(
        spark,
        [(i, p, f) for i, (p, f) in enumerate(tasks)],
        "i long, part string, path string",
        read_footer,
        "i long, part string, n_rows long, key_min long, key_max long, has_stats boolean",
    ).collect()
    rows.sort(key=lambda r: r.i)
    return [(r.part, r.n_rows, r.key_min, r.key_max, r.has_stats) for r in rows]


def minmax_pruned_scan(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
) -> tuple[DataFrame, dict]:
    """Scan ``path`` for rows with ``lo <= column <= hi``, reading ONLY
    the files whose footer [min,max] range intersects [lo, hi].

    Returns (df, stats) where stats records ``files_total`` /
    ``files_scanned`` — the skipping evidence a test can pin. The
    residual predicate is still applied (and pushed down) inside the
    surviving files, so correctness never depends on the stats.
    """
    files = sorted(
        os.path.join(r, f)
        for r, _d, fl in os.walk(path)
        for f in fl
        if f.endswith(".parquet")
    )
    keep = []
    for f in files:
        rng = _file_key_range(f, column)
        if rng is None or (rng[0] <= hi and rng[1] >= lo):
            keep.append(f)
    stats = {"files_total": len(files), "files_scanned": len(keep)}
    if not keep:
        df = spark.read.parquet(path).filter(F.lit(False))
        return df, stats
    df = spark.read.parquet(*keep).filter(F.col(column).between(lo, hi))
    return df, stats
