"""Capture .explain("formatted") output for bench headliner queries.

Writes plans/r14/<name>_<tag>.txt for each HEADLINER catalog entry plus
the vector-path shapes (knn_search, knn_join, scan-side paths).
Usage:

    python scripts/capture_plans.py <tag> [sf_dir] [name ...]

<tag> is e.g. "before" or "after"; with explicit names only those are
captured. Plans are captured lazily (no job runs except tiny fixture
reads), so this is safe to run next to a bench.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINERS = [
    "v01_knn_l2_topk",
    "v03_knn_cosine_topk",
    "v08_knn_join",
    "v09_label_centroids",
    "q01_pricing_summary",
    "q02_join_revenue_by_segment",
    "q10_window_rank",
    "q30_shipping_priority",
    "e02_sessionization",
    "e06_window_funnel",
    "t02_top_tokens",
    "t07_topk_approx",
    "q38_incremental_agg_merge",
    "q44_local_supplier_volume",
    "q50_replacing_final",
    "d03_jaccard_similar_pairs",
    "q93_product_type_profit",
    "q95_waiting_orders",
]


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = set(sys.argv[3:])

    from laion_spark.catalog import REGISTRY
    from laion_spark.session import get_session

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("PLANS_ROUND", "r15"),
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_session("laion_plan_capture")
    names = [n for n in HEADLINERS if not only or n in only] + [
        n for n in only if n not in HEADLINERS
    ]
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # noqa: BLE001
            plan = f"CAPTURE FAILED: {type(ex).__name__}: {ex}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"  {path} ({len(plan)} B)")
    spark.stop()


if __name__ == "__main__":
    main()
