"""Run scaffolding shared by the workloads: host-derived Spark settings,
process-tree memory sampling, the op loop with correctness accounting,
and the span tracer used by traced runs.

Tracing follows one rule: spans are recorded only from the benchmark's
own files, around calls into the engine's public functions (directly,
or by swapping a module attribute for a timing wrapper while a traced
op runs). The engine itself is never edited.
"""

from __future__ import annotations

import functools
import json
import os
import platform
import statistics
import threading
import time
from contextlib import contextmanager


def host_cpus() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """Explicit driver heap: a fifth of MemTotal, at most 1.5 GiB. The
    workloads' working sets are well under 1 GiB; the cap keeps the
    benchmark a small tenant on a shared host."""
    return min(1536, mem_total_bytes() // (5 * 1024 * 1024))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``cpu_times`` readings — neighbour load this host cannot see
    in loadavg."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def host_stamp() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": host_cpus(),
        "mem_total_gb": round(mem_total_bytes() / 2**30, 2),
        "driver_heap_mb": driver_heap_mb(),
        "loadavg_start": loadavg(),
        "cpu_times_start": cpu_times(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def confine_to(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``work`` (inside the checkout) before the session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM writes its perf-data file under /tmp unless disabled
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_heap_mb()}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _processes() -> dict[int, int]:
    """pid -> parent pid for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process exited while listing
    return out


def descendants(pid: int, procs: dict[int, int] | None = None) -> list[int]:
    procs = _processes() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for p, ppid in procs.items():
        kids.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0  # process exited


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""  # process exited


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class RssSampler:
    """Peak resident memory of this process plus all its descendants
    (the JVM and its Python workers), sampled every ``period`` s.

    RSS from ``statm`` is a counter read, cheap enough to sample from a
    thread of the measured process; it counts pages a forked worker
    still shares with its parent once per process."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            procs = _processes()
            # a process the JVM is spawning shares the JVM's address
            # space until it execs, and reports the JVM's whole RSS. Its
            # command name is the spawning thread's ("Executor task l"),
            # so it is told apart by still running the java executable.
            pids = [
                p for p in descendants(me, procs)
                if not (_exe(p).endswith("/java") and _exe(procs[p]).endswith("/java"))
            ]
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in [me, *pids]))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def start_session(run):
    """Start the session; the run owns it from here (and stops it)."""
    from laion_spark.session import get_session

    run.spark = run.tracer.spark = get_session("perfbench", cpus=host_cpus())
    return run.spark


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until it and every Python
    worker it forked have exited."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - any failure here means: kill it
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in kids if _alive(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


# -- statistics ---------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else None


def quantile(xs, q: float):
    """Linear-interpolated quantile; None without samples."""
    if not xs:
        return None
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# -- tracing ------------------------------------------------------------

#: spans of these kinds are time spent inside Spark actions
ENGINE = "engine"
DRIVER = "driver"


class Tracer:
    """In-memory spans (name, start, end, parent, op id, kind) recorded
    only while ``active``; per-op Spark job/stage/task counts come from
    the job group each traced op runs under."""

    def __init__(self):
        self.spark = None  # set when the run's session starts
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.active = False
        self._stack: list[int] = []
        self._op: dict | None = None

    @contextmanager
    def span(self, name: str, kind: str = DRIVER):
        if not self.active:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "kind": kind,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op["op"] if self._op else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, kind: str = DRIVER):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, kind):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self, targets):
        """Swap ``(owner, attr, span name, kind)`` attributes for timing
        wrappers for the life of the block."""
        saved = []
        try:
            for owner, attr, name, kind in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig, attr in vars(owner)))
                setattr(owner, attr, self.wrap(name, orig, kind))
            yield
        finally:
            for owner, attr, orig, own in reversed(saved):
                if own:
                    setattr(owner, attr, orig)
                else:
                    delattr(owner, attr)

    @contextmanager
    def op(self, cls: str, name: str):
        """A traced op: a root span plus a Spark job group."""
        op_id = len(self.ops)
        self._op = {"op": op_id, "cls": cls, "name": name}
        self.active = True
        sc = self.spark.sparkContext
        group = f"perfbench-{os.getpid()}-{op_id}"
        sc.setJobGroup(group, name)
        try:
            with self.span(name, DRIVER):
                yield
        finally:
            self.active = False
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._op.update(self._spark_counts(group))
            self.ops.append(self._op)
            self._op = None

    def _spark_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                s = st.getStageInfo(sid)
                if s is None or s.numTasks == 0:
                    continue
                stages += 1
                tasks += s.numCompletedTasks
                failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    # -- reductions ----------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def per_op(self, cls: str) -> list[dict]:
        """Per traced op of class ``cls``: wall, driver and engine time,
        per-span-name self time, and the Spark counts."""
        selfs = self.self_times()
        by_op: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["op"] is not None:
                by_op.setdefault(s["op"], []).append(s)
        out = []
        for op in self.ops:
            if op["cls"] != cls:
                continue
            spans = by_op[op["op"]]
            root = next(s for s in spans if s["parent"] is None)
            wall = root["end"] - root["start"]
            engine = sum(s["end"] - s["start"] for s in spans if s["kind"] == ENGINE)
            names: dict[str, float] = {}
            for s in spans:
                if s is not root:
                    names[s["name"]] = names.get(s["name"], 0.0) + selfs[s["id"]]
            out.append({
                **op,
                "wall": wall,
                "engine": engine,
                "driver": wall - engine,
                "self": names,
                "children_self_sum": sum(names.values()),
            })
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)


class Run:
    """One workload run: setup timing, the op loop, correctness
    accounting and the metrics it reports."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, root: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = root
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.tracer = Tracer()
        self.spark = None
        self.samples: dict[str, list[float]] = {}
        self.traced_walls: dict[str, list[float]] = {}
        self.quality: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.notes: dict = {}

    def record_setup(self, name: str, fn):
        """Time a setup step (always traced as a setup span)."""
        self.tracer.active = self.trace
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                return fn()
        finally:
            self.tracer.active = False
            self.notes.setdefault("setup_steps", {}).setdefault(name, []).append(
                time.perf_counter() - t0
            )

    def do_op(self, cls: str, name: str, fn, check, measured: bool, traced: bool = False):
        """Run one op: ``fn()`` is timed, ``check(result)`` (untimed)
        returns a dict of quality values or raises ``AssertionError``
        for a wrong result. Errors and wrong results both count as
        failed ops; nothing is dropped."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.op(cls, name):
                    result = fn()
            else:
                result = fn()
            wall = time.perf_counter() - t0
            quality = check(result) or {}
        except Exception as e:  # noqa: BLE001 - an op failure is data, not a crash
            self.failed += 1
            self.failures.append(f"{name}: {type(e).__name__}: {e}"[:500])
            return None
        if measured:
            (self.traced_walls if traced else self.samples).setdefault(cls, []).append(wall)
            for k, v in quality.items():
                self.quality.setdefault(k, []).append(v)
        return wall

    def loop(self, plan, counts: dict[str, int]):
        """Closed loop, one client: run ``plan`` (an endless iterator of
        (cls, name, fn, check)) until each op class has run its fixed
        count, skipping ops of classes already there. In traced runs the
        ops of each class are traced in a T,U,U,T pattern, so traced and
        untraced medians come from the same run and drift cancels."""
        done = dict.fromkeys(counts, 0)
        for cls, name, fn, check in plan:
            if all(done[c] >= n for c, n in counts.items()):
                break
            if done[cls] >= counts[cls]:
                continue
            traced = self.trace and done[cls] % 4 in (0, 3)
            self.do_op(cls, name, fn, check, measured=True, traced=traced)
            done[cls] += 1
