"""Metrics derived from a finished run.

Two name sets describe the same measurements:

- generic slots, identical for every workload, which BENCHMARK.json
  declares and the final JSON line carries (``op`` = the workload's
  headline op class, ``op2`` = its second class);
- the workload's own names (``search_scan_p50_s``, ``ingest.etl_s``,
  ...), printed in the human-readable report.

README.md maps one onto the other.
"""

from __future__ import annotations

from perfbench.harness import median, quantile


def _med(ops, key):
    return median([o[key] for o in ops]) if ops else None


def _self(ops, *names):
    """Median over ops of the summed self time of the named spans."""
    return median([sum(o["self"].get(n, 0.0) for n in names) for o in ops]) if ops else None


def e2e(run, rss_peak: int) -> dict:
    steps = run.notes.get("setup_steps", {})
    op, op2 = run.samples.get("op", []), run.samples.get("op2", [])
    recall = run.quality.get("recall", [])
    return {
        "setup_s": (sum(median(v) for v in steps.values()) + run.notes["warmup_s"], "s", 1),
        "op_p50_s": (median(op), "s", len(op)),
        "op2_p50_s": (median(op2), "s", len(op2)),
        "recall": (sum(recall) / len(recall) if recall else None, "ratio", len(recall)),
        "peak_rss_gb": (rss_peak / 2**30, "GB", 1),
    }


def overhead(run, cls: str):
    """Traced median minus untraced median of one op class's wall time."""
    walls, plain = run.traced_walls.get(cls, []), run.samples.get(cls, [])
    n = min(len(walls), len(plain))
    return (median(walls) - median(plain) if n else None, "s", n)


def layers(run) -> dict:
    tr = run.tracer
    op, op2 = tr.per_op("op"), tr.per_op("op2")
    tasks = sum(o["tasks"] for o in tr.ops)
    failed = sum(o["failed_tasks"] for o in tr.ops)
    return {
        "session_start_s": (run.notes["setup_steps"]["session.get_session"][0], "s", 1),
        "op_driver_s": (_med(op, "driver"), "s", len(op)),
        "op_engine_s": (_med(op, "engine"), "s", len(op)),
        "op2_driver_s": (_med(op2, "driver"), "s", len(op2)),
        "op2_engine_s": (_med(op2, "engine"), "s", len(op2)),
        "jobs_per_op": (_med(op, "jobs"), "count", len(op)),
        "stages_per_op": (_med(op, "stages"), "count", len(op)),
        "tasks_per_op": (_med(op, "tasks"), "count", len(op)),
        "task_success_ratio": (tasks / (tasks + failed) if tasks + failed else None, "ratio", len(tr.ops)),
        "trace_overhead_s": overhead(run, "op"),
    }


def workload_e2e(run, e: dict) -> dict:
    """End-to-end figures under the workload's own names."""
    w = run.workload
    op, op2 = run.samples.get("op", []), run.samples.get("op2", [])
    out = {"failed_op_share": (run.failed / run.attempted, "ratio", run.attempted)}
    if w == "search":
        out["search_scan_p50_s"] = e["op_p50_s"]
        if len(op) >= 100:
            out["search_scan_p90_s"] = (quantile(op, 0.9), "s", len(op))
        out["search_cli_top100_p50_s"] = e["op2_p50_s"]
        df = run.samples.get("df", []) + run.traced_walls.get("df", [])
        dfx = run.samples.get("dfx", []) + run.traced_walls.get("dfx", [])
        if df:  # DataFrame-lane queries run in traced runs only
            out["search_df_p50_s"] = (median(df), "s", len(df))
            out["search_df_image_concept_p50_s"] = (median(dfx), "s", len(dfx))
        out["search_recall_at_10"] = e["recall"]
    elif w == "ingest":
        acct = run.notes["acct"]
        rates = [run.notes["rows_per_op2"] / t for t in op2]
        out["ingest_rows_per_s"] = (median(rates), "1/s", len(rates))
        out["ann_probe_p50_s"] = e["op_p50_s"]
        if len(op) >= 100:
            out["ann_probe_p90_s"] = (quantile(op, 0.9), "s", len(op))
        out["ann_recall_at_10"] = e["recall"]
        written = sum(acct["etl_bytes"]) + sum(acct["index_bytes"])
        out["bytes_per_input_byte"] = (written / sum(acct["input_bytes"]), "ratio", len(acct["input_bytes"]))
    else:
        out["dedup_docs_per_s"] = (run.notes["docs"] / median(op) if op else None, "1/s", len(op))
        out["dedup_pair_recall"] = e["recall"]
        prec = run.quality.get("precision", [])
        out["dedup_pair_precision"] = (sum(prec) / len(prec) if prec else None, "ratio", len(prec))
    return out


def workload_layers(run) -> dict:
    """Per-layer figures of a traced run under the workload's own names:
    medians per traced op unless the name says otherwise."""
    w = run.workload
    tr = run.tracer
    op, op2 = tr.per_op("op"), tr.per_op("op2")
    steps = run.notes["setup_steps"]
    n_op, n_op2 = len(op), len(op2)
    every = [o for cls in {o["cls"] for o in tr.ops} for o in tr.per_op(cls)]
    out = {f"{w}.session_start_s": (steps["session.get_session"][0], "s", 1)}
    if w == "search":
        df, dfx = tr.per_op("df"), tr.per_op("dfx")
        collect = _self(op, "operators.search.collect_result")
        out |= {
            "search.table_build_s": (median(steps["sources.npy.etl_shards_to_parquet"]), "s", 2),
            "search.scan_listing_s": (steps["operators.knn.build_scan_plan"][0], "s", 1),
            "search.encode_s": (
                _self(dfx, "functions.encoder.HashEncoder.encode", "plans.concept.eval_concept"), "s", len(dfx),
            ),
            "search.scan_plan_build_s": (_self(op, "operators.knn.knn_search_parquet"), "s", n_op),
            "search.scan_collect_s": (collect, "s", n_op),
            "search.cli_listing_s": (_self(op2, "operators.knn.build_scan_plan"), "s", n_op2),
            "search.cli_collect_s": (_self(op2, "operators.search.collect_result"), "s", n_op2),
            "search.df_plan_build_s": (_self(df, "operators.knn.knn_search"), "s", len(df)),
            "search.df_collect_s": (_self(df, "operators.search.collect_result"), "s", len(df)),
            "search.scan_splits": (run.notes["scan_splits"], "count", 1),
            "search.rows_scored_per_s": (run.notes["rows_per_op"] / collect if collect else None, "1/s", n_op),
        }
    elif w == "ingest":
        acct = run.notes["acct"]
        out |= {
            "ingest.etl_s": (_self(op2, "sources.npy.etl_shards_to_parquet", "spark.collect"), "s", n_op2),
            "ingest.etl_bytes_written": (median(acct["etl_bytes"][1:]), "bytes", len(acct["etl_bytes"]) - 1),
            "ingest.index_fit_s": (median(steps["operators.similarity.IVFIndex.fit"]), "s", 2),
            "ingest.index_append_s": (_self(op2, "operators.similarity.IVFIndex.write_index"), "s", n_op2),
            "ingest.index_bytes_written": (median(acct["index_bytes"][1:]), "bytes", len(acct["index_bytes"]) - 1),
            "ingest.index_files": (run.notes["index_files"], "count", 1),
            "ingest.row_groups_per_cluster": (run.notes["row_groups_per_cluster"], "count", 1),
            # only the first probe after an append re-lists: report the largest
            "ingest.scan_plans_s": (
                max((o["self"].get("operators.similarity.IVFIndex.scan_plans", 0.0) for o in op), default=None),
                "s", n_op,
            ),
            "ingest.probe_collect_s": (_self(op, "spark.collect"), "s", n_op),
            "ingest.probe_splits": (median(acct["probe_splits"]), "count", len(acct["probe_splits"])),
            "ingest.probe_bytes_frac": (median(acct["probe_bytes_frac"]), "ratio", len(acct["probe_bytes_frac"])),
        }
    else:
        out |= {
            "dedup.signature_s": (_med(op2, "wall"), "s", n_op2),
            "dedup.pairs_s": (_med(op, "wall"), "s", n_op),
            "dedup.pairs_found": (run.notes["pairs_found"], "count", 1),
            "dedup.truth_pairs": (run.notes["truth_pairs"], "count", 1),
            "dedup.spark_stages_per_op": (_med(op, "stages"), "count", n_op),
        }
    out |= {
        f"{w}.spark_jobs_per_op": (_med(op, "jobs"), "count", n_op),
        f"{w}.spark_tasks_per_op": (_med(op, "tasks"), "count", n_op),
        f"{w}.task_failures": (sum(o["failed_tasks"] for o in tr.ops), "count", len(tr.ops)),
        f"{w}.trace_overhead.op_p50_s": overhead(run, "op"),
        f"{w}.trace_overhead.op2_p50_s": overhead(run, "op2"),
        **({f"search.trace_overhead.{c}_p50_s": overhead(run, c) for c in ("df", "dfx")} if w == "search" else {}),
        # self times of an op's spans must fit inside the op's wall time
        f"{w}.ops_children_over_wall": (
            sum(o["children_self_sum"] > o["wall"] + 1e-6 for o in every), "count", len(every),
        ),
    }
    return out


def print_table(title: str, rows: dict) -> None:
    print(f"# {title}")
    for name, (v, unit, n) in rows.items():
        shown = "-" if v is None else f"{v:.6g}"
        print(f"  {name:<44} {shown:>12} {unit:<6} n={n}")
