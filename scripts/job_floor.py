"""Fixed per-job cost of a ``get_session`` session: the floor under every
interactive query.

Runs in one process, one session, and prints the median wall time of

  - ``rdd_count``: ``sc.parallelize(range(C), C).count()`` (C Python tasks)
  - ``range_collect``: ``spark.range(C).collect()`` (no Python task)
  - ``arrow_1task`` / ``arrow_4task``: a no-op ``mapInArrow`` over
    ``spark.range(n, numPartitions=n)``, collected
  - ``scan_plan_build``: building (not running) one scan-lane
    ``knn_search_parquet`` DataFrame with a cached ``ScanPlan``, and
    the number of py4j round trips that build makes

each over ``--reps`` calls after ``--warmup`` untimed ones. The last
line is the same as JSON. The table scored by the plan build is a
small synthetic parquet file written under a temp dir.

Usage: python scripts/job_floor.py [--reps 20] [--warmup 3] [--cpus N]
"""

import argparse
import contextlib
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from laion_spark.operators.knn import build_scan_plan, knn_search_parquet  # noqa: E402
from laion_spark.session import default_parallelism, get_session  # noqa: E402


@contextlib.contextmanager
def py4j_calls(spark):
    """Count the py4j round trips (``GatewayClient.send_command`` calls)
    made inside the block; yields a one-element list holding the count.

    Releases of collected Java proxies (``m d`` commands) are left out:
    py4j sends them in bursts, whenever earlier garbage happens to be
    freed, so they would make the count of one call vary."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls[0] += 1
        return real(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield calls
    finally:
        del client.send_command  # back to the class method


def median_wall(fn, reps: int, warmup: int) -> float:
    for _ in range(warmup):
        fn()
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _noop(batches):
    yield from batches


def _write_table(path: str, rows: int = 2048, dim: int = 64) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(0)
    flat = rng.standard_normal(rows * dim).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(flat), dim).cast(pa.list_(pa.float32()))
    table = pa.table({"url": [f"u{i}" for i in range(rows)], "emb": emb})
    pq.write_table(table, path, row_group_size=rows // 4)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reps", type=int, default=20)
    ap.add_argument("--warmup", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    spark = get_session("job_floor", cpus=args.cpus)
    sc = spark.sparkContext
    c = args.cpus or default_parallelism()
    out = {
        "cores": c,
        "unix_sockets": sc.getConf().get("spark.python.unix.domain.socket.enabled", "false"),
    }

    def arrow_job(n):
        return lambda: spark.range(n, numPartitions=n).mapInArrow(_noop, "id long").collect()

    jobs = {
        "rdd_count": lambda: sc.parallelize(range(c), c).count(),
        "range_collect": lambda: spark.range(c).collect(),
        "arrow_1task": arrow_job(1),
        "arrow_4task": arrow_job(4),
    }
    for name, fn in jobs.items():
        out[f"{name}_s"] = round(median_wall(fn, args.reps, args.warmup), 4)

    with tempfile.TemporaryDirectory(prefix="job_floor_") as d:
        path = os.path.join(d, "t.parquet")
        _write_table(path)
        plan = build_scan_plan(path)
        q = [0.1] * 64

        def build():
            return knn_search_parquet(spark, path, q, k=10, vector_col="emb", select=["url"], plan=plan)

        out["scan_plan_build_s"] = round(median_wall(build, args.reps, args.warmup), 4)
        with py4j_calls(spark) as calls:
            build()
        out["scan_plan_build_py4j_calls"] = calls[0]
        got = build().collect()
        if len(got) != 10:
            raise SystemExit(f"the scan-lane query answered {len(got)} rows, not 10")

    for k, v in out.items():
        print(f"{k:28s} {v}")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
