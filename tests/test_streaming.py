"""Streaming parity (Q28-Q31, FIXTURES.md §7): the events table replayed
as a file stream must produce the same windowed results as the batch
computation of the identical window spec."""

import pytest
from pyspark.sql import functions as F

from laion_spark.functions.time import with_event_time
from laion_spark.streaming.windows import (
    replay_as_stream,
    run_to_completion,
    sessionized_counts,
    sliding_counts,
    streaming_dedup,
    tumbling_counts,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_batch(spark):
    from laion_spark.session import tune_session

    tune_session(spark)
    df = spark.read.parquet(f"{SF_DIR}/events.parquet")
    return with_event_time(df)


@pytest.fixture()
def events_stream(spark):
    return replay_as_stream(spark, f"{SF_DIR}/events.parquet", n_splits=4)


def canon(df, cols):
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


def test_tumbling_parity(spark, events_batch, events_stream):
    got = run_to_completion(tumbling_counts(events_stream), "t_tumbling")
    want = tumbling_counts(events_batch)
    cols = ["w_start", "event_type", "n", "total"]
    assert canon(got, cols) == canon(want, cols)


def test_sliding_parity(spark, events_batch, events_stream):
    got = run_to_completion(sliding_counts(events_stream), "t_sliding")
    want = sliding_counts(events_batch)
    assert canon(got, ["w_start", "n"]) == canon(want, ["w_start", "n"])


def test_session_parity(spark, events_batch, events_stream):
    got = run_to_completion(sessionized_counts(events_stream), "t_session")
    want = sessionized_counts(events_batch)
    cols = ["s_start", "s_end", "user_id", "n_events"]
    assert canon(got, cols) == canon(want, cols)


def test_streaming_dedup_parity(spark, events_batch, events_stream):
    # within-watermark dedup equals batch dedup only when every
    # duplicate of a key arrives inside the watermark: bucket the key
    # by hour (dup span <= 1h) with a 2h watermark
    keys = ["user_id", "event_type", "hour"]

    def with_hour(df):
        return df.withColumn("hour", F.date_trunc("hour", "ts_t"))

    got = run_to_completion(
        streaming_dedup(with_hour(events_stream), keys, watermark="2 hours").select(*keys),
        "t_dedup",
        output_mode="append",
    )
    want = streaming_dedup(with_hour(events_batch), keys).select(*keys)
    # survivor rows may differ (dedup picks any row); the KEY SET must match
    assert canon(got, keys) == canon(want, keys)


def test_late_data_dropped_past_watermark(spark, tmp_path):
    """Q30: documented late-data semantics (no DuckDB oracle exists —
    SURVEY.md hard part #6 — so the contract is pinned here).

    The watermark is a MINIMUM state-retention bound, not a hard input
    filter: a late row is still merged while its window's state is
    alive, and eviction+emission run at the end of the batch in which
    the watermark passed the window end. So the deterministic drop
    case is: window closes in batch N, late row arrives in batch N+1 —
    it must NOT reopen the already-emitted window."""
    import datetime as dt
    import os
    import shutil

    data_dir = str(tmp_path / "stream")
    os.makedirs(data_dir, exist_ok=True)

    def write_file(name, rows):
        df = spark.createDataFrame(rows, "user_id int, ts_t timestamp")
        staged = str(tmp_path / ("_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(staged)
        part = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
        shutil.move(os.path.join(staged, part), os.path.join(data_dir, name))

    T = dt.datetime
    # batch 0: two rows in the 10:00 window, stream time reaches 12:00
    write_file("00000.parquet", [
        (1, T(2024, 1, 1, 10, 5)),
        (1, T(2024, 1, 1, 10, 20)),
        (1, T(2024, 1, 1, 12, 0)),
    ])
    # batch 1 runs under watermark 11:30 -> closes+emits the 10:00 window
    write_file("00001.parquet", [(1, T(2024, 1, 1, 12, 15))])
    # batch 2: a LATE row for the evicted 10:00 window + fresh data
    write_file("00002.parquet", [
        (1, T(2024, 1, 1, 10, 40)),
        (1, T(2024, 1, 1, 12, 30)),
    ])

    schema = spark.read.parquet(data_dir).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(data_dir)
    )
    agg = (
        stream.withWatermark("ts_t", "30 minutes")
        .groupBy(F.window("ts_t", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_data_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.w_start: r.n for r in spark.sql("SELECT * FROM late_data_test").collect()}
    t10 = T(2024, 1, 1, 10, 0)
    # the 10:00 window closed with 2 rows; the late 10:40 row was dropped
    assert got.get(t10) == 2, got
    # batch semantics WOULD count it — that's the documented difference
    batch = spark.read.parquet(data_dir)
    batch_n = (
        batch.groupBy(F.window("ts_t", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("w.start") == t10)
        .collect()[0].n
    )
    assert batch_n == 3


def test_stateful_user_stats_parity(spark, events_batch, events_stream):
    """applyInPandasWithState: the final per-user state (max-n update
    in the update-mode log) must equal the batch groupBy aggregate —
    exactly, because both sides accumulate int64 micro-units."""
    from laion_spark.streaming.windows import latest_update_per_user, stateful_user_stats

    updates = run_to_completion(
        stateful_user_stats(events_stream), "t_stateful", output_mode="update"
    )
    got = latest_update_per_user(updates)
    want = stateful_user_stats(events_batch)
    cols = ["user_id", "n", "total"]
    assert canon(got, cols) == canon(want, cols)
    # the log shows true incremental emission: more update rows than users
    assert updates.count() > got.count()


def test_incremental_mv_replay_idempotent(spark, events_batch, tmp_path):
    """Re-running the whole stream against the same state table must
    not double-count: epochs repeat, and each epoch's append is a
    dynamic partition overwrite of itself."""
    from laion_spark.operators.aggstate import finalize, merge_states
    from laion_spark.streaming.windows import incremental_mv

    state = str(tmp_path / "state")
    for i in range(2):  # second pass replays every epoch
        stream = replay_as_stream(spark, f"{SF_DIR}/events.parquet", n_splits=4)
        incremental_mv(stream, state, ["event_type"], ["value"], query_name=f"t_mv{i}")

    got = finalize(
        merge_states(spark.read.parquet(state).drop("_epoch"), ["event_type"], ["value"]),
        ["event_type"], ["value"],
    ).select("event_type", "value_count", "value_sum")
    want = events_batch.groupBy("event_type").agg(
        F.count("value").alias("value_count"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("value_sum"),
    )
    assert canon(got, ["event_type", "value_count", "value_sum"]) == canon(
        want, ["event_type", "value_count", "value_sum"]
    )


def test_stream_stream_join_parity(spark, events_batch, events_stream):
    """The watermarked stream-stream interval join must emit exactly the
    batch range-join pair set (inner matches emit eagerly; the finite
    replay leaves nothing buffered unmatched)."""
    from laion_spark.streaming.windows import interval_pair_join

    sp = events_stream.filter("event_type = 'purchase'")
    sv = events_stream.filter("event_type = 'view'")
    got = canon(
        run_to_completion(
            interval_pair_join(sp, sv), "t_ssj", output_mode="append"
        ),
        ["left_id", "right_id"],
    )
    bp = events_batch.filter("event_type = 'purchase'")
    bv = events_batch.filter("event_type = 'view'")
    want = canon(interval_pair_join(bp, bv), ["left_id", "right_id"])
    assert got == want and len(want) > 0


def test_file_sink_exactly_once_across_restart(spark, events_batch, tmp_path):
    """The append-parts ingest contract behind s09/s10: a NEW query
    started on the SAME checkpoint after new files arrive ingests only
    what the first run hadn't processed, and a restart with nothing
    new is a no-op — no duplicates, no losses, across three runs."""
    import glob
    import os
    import shutil

    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    halves = [
        events_batch.filter(F.pmod(F.col("event_id"), F.lit(2)) == i)
        for i in (0, 1)
    ]

    def arrive(i):
        d = str(tmp_path / f"h{i}")
        halves[i].drop("ts_us").coalesce(1).write.parquet(d)
        shutil.move(glob.glob(d + "/part-*.parquet")[0], f"{watch}/{i}.parquet")

    arrive(0)
    schema = spark.read.parquet(watch).schema
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(watch)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    total = events_batch.count()
    n1 = spark.read.parquet(sink).count()
    assert n1 == halves[0].count() and 0 < n1 < total

    arrive(1)
    run_once()  # restart: checkpoint must skip the already-seen file
    out = spark.read.parquet(sink)
    assert out.count() == total
    assert out.select("event_id").distinct().count() == total

    run_once()  # restart with nothing new: exact no-op
    assert spark.read.parquet(sink).count() == total


_REPLAY_JOB = """
import glob, json, os, sys
from laion_spark.session import get_session
from laion_spark.streaming.windows import replay_as_stream, run_to_completion

spark = get_session("replay_probe", cpus=2)
stream = replay_as_stream(spark, sys.argv[1], n_splits=2)
n = run_to_completion(stream.groupBy().count(), "replay_probe").collect()[0][0]
dirs = glob.glob(os.path.join(os.environ["TMPDIR"], "**", "laion_stream_*"), recursive=True)
spark.stop()
print(json.dumps({"rows": n, "dirs": dirs}))
"""


def test_replay_as_stream_leaves_nothing_under_the_temp_dir():
    """The dir replay_as_stream writes its micro-batch files into is
    removed when the driver exits (it lives in driver_scratch_dir())."""
    import json
    import os
    import shutil
    import subprocess
    import sys
    import tempfile

    import pyarrow.parquet as pq

    # short enough that driver_scratch_dir() is made inside it
    tmp = tempfile.mkdtemp(prefix="lrs")
    try:
        env = dict(os.environ)
        env.update(
            TMPDIR=tmp,
            PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            SPARK_GRAFT_DRIVER_MEM="512m",
        )
        out = subprocess.run(
            [sys.executable, "-c", _REPLAY_JOB, f"{SF_DIR}/events.parquet"],
            cwd=tmp, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-4000:]
        got = json.loads(out.stdout.strip().splitlines()[-1])
        assert got["rows"] == pq.ParquetFile(f"{SF_DIR}/events.parquet").metadata.num_rows
        assert len(got["dirs"]) == 1 and got["dirs"][0].startswith(tmp + os.sep)
        left = [os.path.join(d, f) for d, subdirs, files in os.walk(tmp)
                for f in subdirs + files if f.startswith("laion_stream_")]
        assert left == []
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
