"""Benchmark entry point.

One run of one workload:

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

prints a human-readable report (host stamp, every metric of the
workload with unit and sample count) and, as its last stdout line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones (plus the traced span file under
``.perfbench_out/``).

Steadiness check — repeat each workload N times with seeds
``--first-seed`` (default 1) onwards, each in a fresh process, and print
per metric the median, quartiles, spread and worst deviation against the
metric's bound:

    python3 perfbench/run.py --repeat 5 [--workload search] [--first-seed 1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(args) -> int:
    from perfbench import report
    from perfbench.harness import (
        RssSampler, Run, confine_to, cpu_times, host_stamp, loadavg, steal_share, stop_session,
    )
    from perfbench.workloads import WORKLOADS

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(run.work)
    confine_to(run.work)
    stamp = host_stamp()
    try:
        with RssSampler() as rss:
            try:
                WORKLOADS[args.workload](run)
            finally:
                if run.spark is not None:
                    stop_session(run.spark)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    stamp["loadavg_end"] = loadavg()
    stamp["cpu_steal_share"] = round(steal_share(stamp.pop("cpu_times_start"), cpu_times()), 4)
    print("# host " + json.dumps(stamp, sort_keys=True))
    print(f"# workload={run.workload} seed={run.seed} seconds={run.seconds} trace={int(run.trace)} "
          f"attempted={run.attempted} failed={run.failed}")
    for msg in run.failures[:10]:
        print(f"# FAILED {msg}")
    e2e = report.e2e(run, rss.peak)
    report.print_table("end-to-end", e2e)
    report.print_table(f"end-to-end, {run.workload} names", report.workload_e2e(run, e2e))
    for cls, walls in sorted(run.samples.items()):
        print(f"# {cls} walls (s, in run order): " + " ".join(f"{w:.3f}" for w in walls))
    report.print_table("setup steps", {
        f"{k}#{i}": (v, "s", 1) for k, vs in run.notes["setup_steps"].items() for i, v in enumerate(vs)
    } | {"warmup": (run.notes["warmup_s"], "s", 1)})
    spec = _bench_spec()
    if run.trace:
        layers = report.layers(run)
        report.print_table("per-layer", layers)
        report.print_table(f"per-layer, {run.workload} names", report.workload_layers(run))
        out = os.path.join(ROOT, ".perfbench_out", f"trace-{run.workload}-seed{run.seed}.json")
        run.tracer.dump(out)
        print(f"# spans written to {os.path.relpath(out, ROOT)}")
        names, source = [m["name"] for m in spec["per_layer"]], layers
    else:
        names, source = [m["name"] for m in spec["end_to_end"]], e2e
    metrics = {}
    correct = run.failed == 0
    for name in names:
        v, unit, _n = source[name]
        if v is None:
            correct = False  # a metric without samples is a broken run
            continue
        metrics[name] = {"value": v, "unit": unit}
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0


def repeat(args) -> int:
    """Run each workload ``args.repeat`` times (fresh process each) and
    report per-metric steadiness against BENCHMARK.json's bounds."""
    import statistics

    spec = _bench_spec()
    workloads = [args.workload] if args.workload else [w["name"] for w in spec["workloads"]]
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end" if not args.trace else "per_layer"]}
    ok = True
    for w in workloads:
        values: dict[str, list[float]] = {}
        walls = []
        for i in range(args.repeat):
            seed = args.first_seed + i
            t0 = time.monotonic()
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            walls.append(time.monotonic() - t0)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                res = json.loads(last)
            except json.JSONDecodeError:
                print(f"{w} seed={seed}: rc={p.returncode}, no result\n{p.stderr[-2000:]}")
                ok = False
                continue
            if not res["correct"] or res["failed"]:
                ok = False
            host = next((ln for ln in p.stdout.splitlines() if ln.startswith("# host ")), "# host {}")
            steal = json.loads(host[len("# host "):]).get("cpu_steal_share")
            print(f"{w} seed={seed} rc={p.returncode} wall={walls[-1]:.1f}s steal={steal} correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        print(f"== {w}: {len(walls)} runs, wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            worst = max(abs(v - med) for v in vs) / med if med else float("inf")
            b = bounds.get(k)
            verdict = "" if b is None else ("ok" if spread <= b / 3 else "within-bound" if spread <= b else "WIDE")
            if b is not None and spread > b:
                ok = False
            print(f"  {k:<20} median={med:.5g} q1={q1:.5g} q3={q3:.5g} spread={spread:.3f} "
                  f"worst={worst:.3f} bound={b} {verdict}")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0, help="steadiness mode: runs per workload")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    # a TERM (e.g. a caller's timeout) unwinds like an exception, so the
    # session is stopped and the work dir removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "laion_spark")):
        print(f"laion_spark/ not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.repeat:
        return repeat(args)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        args.seconds = _bench_spec()["run_seconds"]
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
