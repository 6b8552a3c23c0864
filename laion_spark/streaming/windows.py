"""Structured Streaming operators (SURVEY.md §2.9 Q28-Q31).

The reference has no streams; the north star adds them. Correctness
story (FIXTURES.md §7): no external oracle exists for streaming, so
every operator here is a *window spec shared with a batch twin* —
replay the events table as a file stream, run the streaming query to
completion, and the result must equal the identical computation on the
batch DataFrame (Structured Streaming's batch-equivalence promise).
That parity is asserted in tests/test_streaming.py.

Watermarks bound state: at 100 TB/day of events the tumbling/sliding
aggregations keep only open windows in the state store, and
``dropDuplicatesWithinWatermark`` keeps only keys younger than the
delay — both size state by time, not by stream length.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F


def replay_as_stream(
    spark: SparkSession,
    parquet_path: str,
    files_per_trigger: int = 1,
    n_splits: int = 4,
    ts_col: str = "ts",
) -> DataFrame:
    """Replay a batch parquet table as a file-source stream.

    The table is re-written as ``n_splits`` files ordered by event time
    (one file per micro-batch -> realistic late/ordered arrival), into
    a temp dir the file source watches. The dir lives under
    ``driver_scratch_dir()``, so it is removed when the driver exits,
    after the last query that could read it. Timestamps stored as raw
    nanos (bigint) are normalized to a TIMESTAMP column ``ts_t``.
    """
    from laion_spark.functions.time import with_event_time
    from laion_spark.session import driver_scratch_dir

    src = with_event_time(spark.read.parquet(parquet_path), ts_col).drop("ts_us")
    stream_dir = tempfile.mkdtemp(prefix="laion_stream_", dir=driver_scratch_dir())
    # ONE pass: ntile buckets the time-sorted rows into n_splits equal
    # micro-batch files — no count(), no per-split filter/write loop
    # (the old shape ran ~2 jobs per split; with 6+ streaming catalog
    # entries the harness overhead dominated their runtime). The
    # single-partition window is fine here by design: this is a test/
    # replay harness over fixture-scale data, not a production path.
    rows = src.withColumn("_split", F.ntile(n_splits).over(W.orderBy("ts_t", F.monotonically_increasing_id())) - 1)
    tmp = stream_dir + "/_parts"
    rows.repartition(n_splits, "_split").write.partitionBy("_split").parquet(tmp)
    data_dir = stream_dir + "/data"
    os.makedirs(data_dir, exist_ok=True)
    for s in range(n_splits):
        parts = sorted(glob.glob(tmp + f"/_split={s}/part-*.parquet"))
        for i, f in enumerate(parts):
            dst = os.path.join(data_dir, f"{s:05d}_{i}.parquet")
            shutil.move(f, dst)
            # file-source discovery orders by modification time: make it
            # explicit and monotone with the split order
            os.utime(dst, (1_600_000_000 + s, 1_600_000_000 + s))
    schema = spark.read.parquet(data_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(data_dir)
    )


def run_to_completion(stream_df: DataFrame, query_name: str, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming aggregation through all available input via a
    memory sink; returns the final result as a batch DataFrame."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


# --- window specs shared by stream and batch twins ---------------------------


def tumbling_counts(df: DataFrame, window: str = "1 hour", watermark: str = "30 minutes") -> DataFrame:
    """Q28 tumbling-window count/sum per event_type. The value sum
    accumulates in DECIMAL(28,6) — exact under any micro-batch or
    partition order, so the streamed result is bit-identical to a batch
    or external-engine aggregate (the engine-wide money-sum rule)."""
    src = df.withWatermark("ts_t", watermark) if df.isStreaming else df
    return (
        src.groupBy(F.window("ts_t", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            "n",
            "total",
        )
    )


def sliding_counts(df: DataFrame, window: str = "1 hour", slide: str = "30 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Q28 sliding-window event counts."""
    src = df.withWatermark("ts_t", watermark) if df.isStreaming else df
    return (
        src.groupBy(F.window("ts_t", window, slide).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )


def sessionized_counts(df: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Q29 session windows per user (gap-based)."""
    src = df.withWatermark("ts_t", watermark) if df.isStreaming else df
    return (
        src.groupBy(F.session_window("ts_t", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("s_start"), F.col("w.end").alias("s_end"), "user_id", "n_events")
    )


def streaming_dedup(df: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Q31 stateful dedup: exactly-once per key within the watermark.
    Batch twin: dropDuplicates on the same keys."""
    if df.isStreaming:
        return df.withWatermark("ts_t", watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def stateful_user_stats(df: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (the
    north star's escape hatch for aggregations the built-in windowed
    operators can't express — SURVEY.md §2.9/U4's streaming face).

    Maintains an explicit per-user GroupState ``(n, total)`` across
    micro-batches and emits the running totals in ``update`` mode after
    each batch that touches the key. State is the raw float64
    accumulator; rounding happens only at emit, so late batches keep
    full precision.

    The emitted ``n`` is monotone per user, so "latest update per user"
    == "update with max n" — that selection (done by the caller at
    stream end) must equal the batch twin, a plain groupBy aggregate.
    This is the batch-equivalence contract for stateful ops: final
    state == the aggregate over everything the stream delivered.

    Cross-engine float determinism: ``value`` is quantized to int64
    micro-units IN CATALYST (``F.round`` = HALF_UP = DuckDB ``round``),
    the state accumulates only exact int64 sums, and the division back
    to double happens at emit — so the result is bit-identical no
    matter how the stream batches the rows (never sum floats in
    accumulation order you don't control).

    At scale: state is one 16-byte tuple per distinct user (bounded by
    key cardinality, not stream length); each micro-batch shuffles only
    its own rows to the state partitions — the same single-shuffle
    shape as the built-in streaming aggs.

    Batch twin: ``groupBy(user_id).agg(count, sum(value_micros)/1e6)``.
    """
    value_i = F.round(F.col("value") * 1_000_000, 0).cast("long")
    if not df.isStreaming:
        return df.groupBy("user_id").agg(
            F.count("*").alias("n"),
            (F.sum(value_i) / 1_000_000).alias("total"),
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        n, total_i = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total_i += int(pdf["value_i"].sum())
        state.update((n, total_i))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "total": [total_i / 1_000_000]}
        )

    return (
        df.withColumn("value_i", value_i)
        .withWatermark("ts_t", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n bigint, total double",
            stateStructType="n bigint, total_i bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def interval_pair_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "event_id",
    right_id: str = "event_id",
    user_col: str = "user_id",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: every left event pairs with the
    right events of the same user that happened STRICTLY before it and
    within ``window`` of it (the trade-enrichment / attribution shape).

    Streaming semantics: both sides carry a watermark, and the join
    condition bounds right-event time relative to left-event time, so
    Spark can size the join state by time — each side buffers only
    ``watermark + window`` of history, not the whole stream (the state
    contract that makes a stream-stream join run forever at 100 TB/day).
    Inner joins emit each match as soon as both rows exist, so with a
    finite replay the append-mode output is the complete pair set and
    must equal the batch twin (same join on the batch frames).

    Column hygiene: sides are projected to disjoint names BEFORE the
    watermark so the event-time column survives into the join
    unambiguously. Returns (left_id, right_id) pairs.
    """
    l = left.select(
        F.col(user_col).alias("_l_user"),
        F.col("ts_t").alias("_l_ts"),
        F.col(left_id).alias("left_id"),
    )
    r = right.select(
        F.col(user_col).alias("_r_user"),
        F.col("ts_t").alias("_r_ts"),
        F.col(right_id).alias("right_id"),
    )
    if left.isStreaming:
        l = l.withWatermark("_l_ts", watermark)
    if right.isStreaming:
        r = r.withWatermark("_r_ts", watermark)
    cond = (
        (F.col("_l_user") == F.col("_r_user"))
        & (F.col("_r_ts") < F.col("_l_ts"))
        & (F.col("_r_ts") >= F.expr(f"_l_ts - INTERVAL {window}"))
    )
    return l.join(r, cond, "inner").select("left_id", "right_id")


def incremental_mv(
    stream_df: DataFrame,
    state_path: str,
    keys: list[str],
    measures: list[str],
    query_name: str = "laion_mv",
) -> None:
    """Streaming incremental materialized view — the ClickHouse
    MATERIALIZED VIEW ... AggregatingMergeTree pattern: every incoming
    micro-batch is partial-aggregated to mergeable state rows
    (``operators.aggstate.agg_state``) and APPENDED to an ordinary
    parquet state table. Readers call ``merge_states`` + ``finalize``
    over the state table and get the aggregate-to-date without ever
    rescanning raw history.

    ``foreachBatch`` (not a stateful operator) is the right tool here:
    the state lives in the TABLE, not the state store, so it survives
    query restarts, is readable mid-stream by other engines, and its
    size is O(batches x keys) — compacted by any later merge-rewrite.
    Appends are idempotent per epoch via the batch id column: a replayed
    micro-batch (at-least-once sinks) overwrites its own partition
    instead of double-counting.
    """
    from laion_spark.operators.aggstate import agg_state

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        (
            agg_state(batch_df, keys, measures)
            .withColumn("_epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .partitionBy("_epoch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(state_path)
        )

    q = (
        stream_df.writeStream.foreachBatch(upsert)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def latest_update_per_user(updates: DataFrame) -> DataFrame:
    """Collapse an update-mode memory-sink log to the final row per
    user: ``n`` is monotone, so max-n is the last emitted state."""
    w = W.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def stream_index_ingest(
    stream_df: DataFrame,
    idx,
    out_dir: str,
    vector_col: str = "embedding",
    query_name: str = "ivf_stream_ingest",
) -> str:
    """Continuous ANN-index maintenance (the streaming twin of
    ``IVFIndex.write_index``): vectors arriving on a stream get their
    IVF cluster stamped in-flight (``idx.build`` is mapInArrow, which
    Structured Streaming runs per micro-batch) and are appended into
    the partition-pruned ``ivf_cluster=K`` layout. Probes over the
    directory see each micro-batch as soon as its files commit — index
    freshness is one trigger behind ingest, with no rebuild step.

    Unlike ``write_index`` (packed ``fixed_size_binary(4*dim)`` float32
    through the python workers' Arrow sink), this still writes
    list<float> through Spark's streaming file sink, whose commit log
    is what makes the appends exactly-once; every probe path reads both
    layouts (``flat_matrix``).

    Returns the data directory (feed its ``probe_dirs`` to
    ``knn_search_parquet``). The sink's ``_spark_metadata`` commit log
    + checkpoint give exactly-once APPENDS; cluster centroids are
    fixed literals shipped in the closure, so assignment is
    deterministic across retries. Caveat for readers: only Spark's own
    reader (``spark.read.parquet(data_dir)``) consults the commit log
    — a directory-listing probe (``knn_search_parquet``) trusts the
    filesystem, so a hard task crash can leave an orphaned part-file
    it would double-count. For strict reads after unclean failures,
    either probe through the Spark reader or compact the sink output
    (a one-pass rewrite) before listing-based probes."""
    data_dir = os.path.join(out_dir, "data")
    q = (
        idx.build(stream_df, vector_col)
        .writeStream.format("parquet")
        .option("path", data_dir)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .partitionBy("ivf_cluster")
        .outputMode("append")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return data_dir
