"""Physical-plan hygiene gates (SURVEY.md §4.1/§4.3, Phase 6).

These assert the plan SHAPE, not results: at 100 TB the difference
between "reads two columns" and "reads the 6 KB/row embedding column
it never scores" is the whole I/O budget. Each test pins one
scale-critical property so a regression shows up as a test failure,
not a 100x cloud bill.
"""

import pytest
from pyspark.sql import functions as F

from laion_spark.functions.time import ts_us_col
from laion_spark.operators.knn import knn_search

QVEC64 = [round(((j * 37) % 19 - 9) / 10.0, 1) for j in range(64)]


def plan_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(em)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_knn_is_take_ordered_no_shuffle(emb):
    """Top-k must be per-partition top-k + k-row reduce: a global Sort
    + Exchange of scored rows would shuffle the whole table."""
    p = plan_str(knn_search(emb, QVEC64, k=10, vector_col="embedding", select=["vec_id"]))
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p


def test_knn_filter_pushed_to_scan(emb):
    """The WHERE below the scoring projection must reach the parquet
    reader (row-group stats skip I/O server-side in the reference;
    PushedFilters is the Spark equivalent)."""
    p = plan_str(
        knn_search(emb, QVEC64, k=10, vector_col="embedding", filter="label <> 0", select=["vec_id"])
    )
    push = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert push and "label" in push[0], push


def test_knn_scan_prunes_unused_columns(emb):
    """Scoring vec_id+embedding must not read `label` from parquet."""
    p = plan_str(knn_search(emb, QVEC64, k=10, vector_col="embedding", select=["vec_id"]))
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs and "label" not in rs[0], rs


def test_small_dim_join_broadcasts(spark, sf_dir):
    """nation x region must be a broadcast join, never a shuffle join."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    p = plan_str(j)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_laion_fact_scan_reads_one_embedding_column(spark):
    """The reference's canonical query selects ONE embedding column;
    reading both doubles scan I/O (~6 KB/row each at dim 768,
    SURVEY.md §4.1 design rule)."""
    from laion_spark.catalog import _etl_fixture
    from laion_spark.sources.npy import etl_shards, write_fact_table

    fact_path = "/tmp/laion_plans_fact.parquet"
    import os

    if not os.path.exists(fact_path + "/_SUCCESS"):
        write_fact_table(etl_shards(spark, _etl_fixture(), dim=16), fact_path)
    fact = spark.read.parquet(fact_path)
    q = knn_search(
        fact,
        [0.1] * 16,
        k=5,
        vector_col="image_embedding",
        filter="nsfw = 'UNLIKELY'",
        select=["url", "caption"],
    )
    rs = [ln for ln in plan_str(q).splitlines() if "ReadSchema" in ln]
    assert rs and "text_embedding" not in rs[0], rs
    assert "image_embedding" in rs[0]


def test_ivf_partitioned_table_prunes_partitions(spark, sf_dir, tmp_path):
    """The IVF scale path end-to-end: cluster ids stamped at ingest,
    table written partitionBy(ivf_cluster) — a probe must then read
    only the nprobe matching partitions (PartitionFilters in the scan),
    which is how the engine gets the reference's ANN-table speedup
    (~nprobe/C of the bytes) from plain parquet layout."""
    from laion_spark.operators.similarity import IVFIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = IVFIndex(dim=64, n_clusters=4, n_iters=1, nprobe=2).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    path = str(tmp_path / "ivf_table")
    idx.build(emb, "embedding").write.partitionBy("ivf_cluster").parquet(path)
    table = spark.read.parquet(path)
    probes = idx.probe_clusters([0.1] * 64)
    q = table.filter(F.col("ivf_cluster").isin(probes)).select("vec_id")
    p = plan_str(q)
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert pf and "ivf_cluster" in pf[0], p
    # and the data filter did NOT degrade into a post-scan filter
    assert "PushedFilters: []" in p or "Filter" not in p.split("Scan")[0]


def test_ivf_fit_sample_has_no_sort_or_exchange(spark, sf_dir):
    """VERDICT r1: fit must stay bounded — the fit input plan is a
    LocalLimit over the scan, never a full-table Sort/Exchange."""
    from laion_spark.operators.similarity import IVFIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_str(IVFIndex._fit_sample(emb, "vec_id", "embedding", 500))
    assert "Sort" not in p, p
    assert "Exchange" not in p, p


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """Co-located join (SURVEY.md §2.9 Q1 at scale): both fact tables
    written bucketed on the join key join with zero Exchange — the
    bucketing IS the shuffle, paid once at ingest instead of per query."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try:
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        for name, df, key in (("t_orders_b", o, "o_orderkey"), ("t_lineitem_b", li, "l_orderkey")):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(name)
        j = (
            spark.table("t_lineitem_b")
            .join(spark.table("t_orders_b"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        p = plan_str(j)
        join_part = p.split("HashAggregate")[0]
        assert "Exchange" not in join_part, join_part
        # same result as the plain (shuffling) join
        plain = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, j.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_q30_broadcasts_dim_and_takes_ordered(spark, sf_dir):
    """TPC-H Q3 shape: the filtered customer dim must broadcast (no
    shuffle of the fact side for it) and the top-N must be
    TakeOrderedAndProject, not a global sort."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q30_shipping_priority"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, p


def test_q31_scalar_max_is_broadcast(spark, sf_dir):
    """Q15 shape: the 1-row MAX side joins via broadcast, never a
    shuffle of the revenue view against one row."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q31_top_supplier"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_q32_sample_predicate_prunes_columns(spark, sf_dir):
    """Deterministic sampling must stay a scan-level predicate over a
    pruned schema (3 columns), not a wide read."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q32_deterministic_sample"].fn(spark, sf_dir))
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs and "o_orderdate" not in rs[0], rs


def test_minhash_base_array_computed_once(spark, sf_dir):
    """The 41x round-2 fix: the shingle+hash base array must appear ONCE
    behind a Project boundary, not be re-inlined into all 64 min-hash
    expressions (CollapseProject keeps non-cheap aliases referenced >1x,
    but a refactor could silently lose the boundary)."""
    from laion_spark.operators.dedup import minhash_signatures

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_str(minhash_signatures(d, "doc_id", "text", num_hashes=64, ngram=3))
    assert p.count("xxhash64") <= 3, f"base hash array re-inlined {p.count('xxhash64')}x"


def test_near_dup_candidate_exchange_is_id_only(spark, sf_dir):
    """embedding_near_dup_pairs: the (t, b) bucket self-join and the
    candidate distinct must shuffle IDS ONLY — at 768-d float64 a
    vector riding that exchange costs ~6 KB x n_tables per row where
    16 bytes of id suffice (VERDICT r4 #1). The vectors may appear only
    in the post-distinct verify joins."""
    from laion_spark.operators.similarity import embedding_near_dup_pairs

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    p = plan_str(embedding_near_dup_pairs(e, "vec_id", "embedding", threshold=0.9, dim=64))
    # the old vector-riding plan's fingerprint: dropDuplicates(ida, idb)
    # materialized first(_va)/first(_vb) aggregates, i.e. every vector
    # crossed the distinct exchange n_tables times
    assert "first(_va" not in p and "first(_vb" not in p, p
    # and the vector columns join in AFTER the distinct (two id joins)
    assert p.count("Join") >= 3, p  # bucket self-join + 2 vector re-joins


def test_funnel_is_single_shuffle(spark, sf_dir):
    """windowFunnel: one Exchange on the user key, then a pure
    projection fold — a second shuffle or a Python node would mean the
    automaton left Catalyst."""
    from laion_spark.operators.funnel import window_funnel

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    e = e.select("user_id", ts_us_col(e).alias("ts_us"), "event_type")
    df = window_funnel(e, ["view", "click", "purchase"], 3_600_000_000)
    p = plan_str(df, "simple")
    assert p.count("Exchange") == 1, p
    assert "hashpartitioning(user_id" in p, p
    assert "Python" not in p and "ArrowEval" not in p, p  # fold stays JVM-side
    # the default per-user buffer cap rides the SAME exchange: its
    # row_number window must be in the plan without a second shuffle
    assert "row_number" in p, p


def test_topk_approx_shuffles_counters_only(spark, sf_dir):
    """SpaceSaving topK: raw tokens must NOT shuffle — the only
    Exchange sits above the sketch (mapInPandas) and carries the
    (_item, _n, _err) counter rows; top-k is a TakeOrdered, not a
    global sort."""
    from laion_spark.operators.topk import topk_approx

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    p = plan_str(topk_approx(toks, "token", k=10), "simple")
    assert p.count("Exchange") == 1, p
    assert "MapInPandas" in p and "TakeOrderedAndProject" in p, p
    # the exchange's output is the counter triple, not the token stream
    ex_line = [l for l in p.splitlines() if "Exchange" in l][0]
    assert "_item" in ex_line or "hashpartitioning(_item" in ex_line, ex_line


def test_weighted_quantile_two_exchanges_no_global_sort(spark, sf_dir):
    """(keys,value) pre-agg shuffle + keys window shuffle; the final
    min-per-group must REUSE the window's partitioning (no third
    Exchange) and nothing global-sorts."""
    from laion_spark.operators.grouped import weighted_quantile

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = plan_str(
        weighted_quantile(li, ["l_returnflag"], "l_extendedprice", "l_quantity"), "simple"
    )
    assert p.count("Exchange") == 2, p
    assert "rangepartitioning" not in p, p  # Sort inside windows is per-partition


def test_q44_pushdown_pruning_no_nested_loop(spark, sf_dir):
    """TPC-H Q5 shape, size-invariant properties: every join is hash-
    based (broadcast at this SF; AQE may pick SMJ at scale — never a
    nested loop), the order-date filter reaches the orders scan, and the
    lineitem scan reads only its 4 needed columns out of 11."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q44_local_supplier_volume"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "GreaterThanOrEqual(o_orderdate" in p, "date filter not pushed"
    li_schemas = [
        ln for ln in p.splitlines() if "ReadSchema" in ln and "l_orderkey" in ln
    ]
    assert li_schemas and all(
        "l_shipdate" not in ln and "l_partkey" not in ln for ln in li_schemas
    ), li_schemas


def test_limit_by_single_exchange_group_limit(spark, sf_dir):
    """LIMIT n BY k: one shuffle on the BY key, and Spark's
    WindowGroupLimit must push the rank filter below the sort so no
    group is fully materialized."""
    from laion_spark.operators.relational import limit_by

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = limit_by(o, ["o_custkey"], 2, [F.desc("o_totalprice"), F.asc("o_orderkey")])
    p = plan_str(out, "simple")
    assert p.count("Exchange") == 1, p
    assert "WindowGroupLimit" in p, p


def test_moments_single_aggregate_pass(spark, sf_dir):
    """All seven power sums must come from ONE partial+final aggregate
    (a second scan/aggregate would double the 100 TB read)."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q46_moments_regression"].fn(spark, sf_dir), "simple")
    # one exchange for the group key, one possible final sort for ORDER BY
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Scan parquet") == 1, p


def test_sum_map_shuffles_narrow_pairs_only(spark, sf_dir):
    """sumMap: shuffles carry (group, key, partial-sum) rows, never the
    assembled maps; map_from_entries runs after the final aggregate."""
    from laion_spark.operators.relational import sum_map

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.create_map(F.col("event_type"), F.col("value")).alias("m")
    )
    p = plan_str(sum_map(e, ["user_id"], "m"), "simple")
    assert p.count("Exchange") == 2, p
    assert "map_from_entries" not in p.split("Exchange")[-1], (
        "map assembly must happen above the last exchange, not below it"
    )


def test_funnel_strict_mode_stays_single_shuffle(spark, sf_dir):
    """The strict-mode dead flag is one struct field in the same fold —
    it must not add a shuffle or leave Catalyst."""
    from laion_spark.operators.funnel import window_funnel

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    e = e.select("user_id", ts_us_col(e).alias("ts_us"), "event_type")
    for mode in ("strict_order", "strict_dedup"):
        df = window_funnel(
            e, ["view", "click", "purchase"], 3_600_000_000, mode=mode
        )
        p = plan_str(df, "simple")
        assert p.count("Exchange") == 1, p
        assert "Python" not in p and "ArrowEval" not in p, p


def test_replacing_final_single_shuffle(spark, sf_dir):
    """ReplacingMergeTree FINAL: one Exchange on the key, survivor via a
    WindowGroupLimit-eligible row_number — no agg-then-join double pass."""
    from laion_spark.operators.mergetree import replacing_final

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    e = e.select("user_id", "event_type", ts_us_col(e).alias("ts_us"), "event_id")
    df = replacing_final(e, ["user_id", "event_type"], "ts_us", ["event_id"])
    p = plan_str(df, "simple")
    assert p.count("Exchange") == 1, p
    assert "hashpartitioning(user_id" in p, p
    assert "WindowGroupLimit" in p, p


def test_collapsing_final_single_shuffle(spark, sf_dir):
    """CollapsingMergeTree FINAL computes net + survivor in one window
    pass over one Exchange — a self-join shape would show two."""
    from laion_spark.operators.mergetree import collapsing_final

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    e = e.select(
        "user_id",
        "event_type",
        ts_us_col(e).alias("ts_us"),
        F.when(F.col("event_id") % 4 == 0, F.lit(-1)).otherwise(1).alias("sign"),
    )
    df = collapsing_final(e, ["user_id", "event_type"], "sign", "ts_us")
    p = plan_str(df, "simple")
    assert p.count("Exchange") == 1, p


def test_ema_reuses_window_partitioning(spark, sf_dir):
    """exponentialMovingAverage: the max-ts window and the final
    aggregate hash-partition on the same key, so EnsureRequirements
    must plan exactly one Exchange."""
    from laion_spark.catalog import _E16_SQL

    spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts_us", ts_us_col(spark.read.parquet(f"{sf_dir}/events.parquet"))
    ).createOrReplaceTempView("plans_e16_events")
    sql = _E16_SQL.format(tbl="plans_e16_events", ts_us="ts_us")
    df = spark.sql(sql.replace("ORDER BY user_id", ""))
    p = plan_str(df, "simple")
    assert p.count("Exchange") == 1, p
    assert "hashpartitioning(user_id" in p, p


def test_q65_predicate_reaches_scan(spark, sf_dir):
    """TPC-H Q6 shape: every conjunct is scan-eligible — PushedFilters
    must carry shipdate/discount/quantity so row-group stats skip I/O."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q65_forecast_revenue"].fn(spark, sf_dir))
    push = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert push, p
    line = push[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in line, line
    # ungrouped agg: partial/final pair, no hashpartitioning of data rows
    assert "hashpartitioning" not in p, p


def test_q66_semi_join_prunes_columns(spark, sf_dir):
    """TPC-H Q18 shape: the lineitem scan feeding the semi join must
    read only the columns the query needs (orderkey/quantity), never
    the full table width."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q66_large_volume_customer"].fn(spark, sf_dir))
    scans = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert any("l_orderkey" in ln and "l_quantity" in ln for ln in scans), p
    # no scan in this query needs the price/date/flag columns — if one
    # reads them, pruning broke and the 100 TB fact scan pays full width
    for ln in scans:
        assert "l_extendedprice" not in ln, ln
        assert "l_shipdate" not in ln, ln


def test_q67_semi_join_with_pushed_date_range(spark, sf_dir):
    """TPC-H Q4 shape: the EXISTS compiles to a LEFT SEMI join, the
    orders date range reaches the scan (PushedFilters), and the
    lineitem side reads only the two columns the condition needs."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q67_order_priority_check"].fn(spark, sf_dir))
    assert "LeftSemi" in p, p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed), pushed
    scans = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    li_scans = [ln for ln in scans if "l_orderkey" in ln]
    assert li_scans and all(
        "l_extendedprice" not in ln and "l_quantity" not in ln for ln in li_scans
    ), li_scans


def test_q68_single_custkey_shuffle_domain(spark, sf_dir):
    """TPC-H Q13 shape: the join predicate on o_orderpriority must stay
    in the JOIN (outer semantics preserved — the plan keeps LeftOuter),
    and the orders scan must not read beyond (o_custkey, o_orderkey,
    o_orderpriority)."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q68_customer_distribution"].fn(spark, sf_dir))
    assert "LeftOuter" in p, p
    scans = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    o_scans = [ln for ln in scans if "o_custkey" in ln]
    assert o_scans and all("o_totalprice" not in ln for ln in o_scans), o_scans


def test_q69_sketch_partials_are_objecthashaggregate(spark, sf_dir):
    """HLL sketch partials must run as ObjectHashAggregate (binary
    sketch state, map-side combined) — a SortAggregate here would mean
    per-group sorting of the fact table at 100 TB."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q69_hll_sketch_merge"].fn(spark, sf_dir))
    assert "ObjectHashAggregate" in p, p
    assert "hll_sketch_agg" in p and "hll_union_agg" in p, p


def test_q70_sample_filter_below_first_exchange(spark, sf_dir):
    """The SAMPLE predicate must run at the scan (before the groupBy
    shuffle): at 100 TB a post-shuffle sample would move 10x the data.
    No Python node anywhere — the hash is pure Catalyst arithmetic."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q70_sample_clause"].fn(spark, sf_dir), "simple")
    assert "Python" not in p, p
    assert "Filter" in p, p
    # scan -> filter -> partial agg happen in ONE stage: the only
    # shuffles are the 5-group final agg + the result-surface sort
    assert p.count("Exchange") <= 2, p


def test_q72_kll_partials_are_objecthashaggregate(spark, sf_dir):
    """KLL quantile partials must map-side combine as binary sketch
    state (ObjectHashAggregate), mirroring the q69 HLL contract."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q72_quantile_sketch_merge"].fn(spark, sf_dir))
    assert "ObjectHashAggregate" in p, p
    assert "kll_sketch_agg" in p and "kll_merge_agg" in p, p


def test_q73_theta_partials_are_objecthashaggregate(spark, sf_dir):
    """Theta set-algebra runs on merged sketch state — partials are
    ObjectHashAggregate; the raw events table is scanned exactly twice
    (sketch pass + exact-count gate), never joined on user_id."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q73_theta_set_ops"].fn(spark, sf_dir))
    assert "ObjectHashAggregate" in p, p
    assert "theta_sketch_agg" in p and "theta_union_agg" in p, p


def test_q74_regression_is_single_shuffle_algebraic(spark, sf_dir):
    """simpleLinearRegression reduces to 5 partial sums: one HashAggregate
    pair around one Exchange; no window, no join, no second fact scan."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q74_simple_linear_regression"].fn(spark, sf_dir), "simple")
    assert "HashAggregate" in p, p
    assert "Window" not in p and "Join" not in p.replace("JoinType", ""), p
    # exactly one data shuffle (groupBy) + the result-surface sort
    assert p.count("Exchange") <= 2, p


def test_q75_rank_windows_share_partitioning(spark, sf_dir):
    """Spearman's four window specs (two rank windows, two tie-count
    windows) and the groupBy all ride ONE hashpartitioning(l_returnflag)
    exchange — re-sorted in place per order key, never re-shuffled; the
    only other exchange is the result-surface rangepartitioning sort."""
    from laion_spark.catalog import REGISTRY

    import re

    p = plan_str(REGISTRY["q75_rank_corr"].fn(spark, sf_dir), "simple")
    # <= rather than == : AQE / planner-version node merges must not
    # redden this pin without a real regression (ADVICE r4). The real
    # invariant is the next assert — every hash exchange keys on
    # l_returnflag, i.e. there is no second partitioning key anywhere.
    assert p.count("Exchange") <= 2, p
    hashparts = re.findall(r"hashpartitioning\(([^,)]+)", p)
    assert hashparts and all("l_returnflag" in h for h in hashparts), hashparts
    assert "rangepartitioning" in p, p  # final ORDER BY only


def test_q84_broadcasts_nation_and_shuffles_orderkey(spark, sf_dir):
    """TPC-H Q10: nation must broadcast (25 rows), and the returnflag +
    date predicates must reach the scans as pushed filters."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q84_returned_item_reporting"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    push = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("l_returnflag" in ln for ln in push), push
    assert any("o_orderdate" in ln for ln in push), push


def test_q85_zero_data_shuffles(spark, sf_dir):
    """TPC-H Q14: part broadcasts; the only aggregation is ungrouped, so
    no hashpartitioning exchange of data rows exists anywhere."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q85_promotion_effect"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "hashpartitioning" not in p, p
    push_p = plan_str(REGISTRY["q85_promotion_effect"].fn(spark, sf_dir))
    assert any("l_shipdate" in ln for ln in push_p.splitlines() if "PushedFilters" in ln), push_p


def test_q90_broadcasts_part_no_data_shuffle(spark, sf_dir):
    """TPC-H Q19 shape: part must broadcast and the ungrouped aggregate
    means lineitem is scanned once with NO hashpartitioning exchange;
    the OR-of-ANDs lives in the join condition / post-join filter, not
    a second scan."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q90_disjunctive_revenue"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "hashpartitioning" not in p, p


def test_new_corpus_scans_stay_jvm_side(spark, sf_dir):
    """t11/t12/t13 corpus scans: no Python operator anywhere, and t13's
    vocabulary join must broadcast (the token stream never shuffles for
    the frequency lookup)."""
    from laion_spark.catalog import REGISTRY

    for name in ("t11_vocab_growth", "t12_sequence_packing", "t13_unigram_nll_quality"):
        p = REGISTRY[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in p and "MapInArrow" not in p, (name, p)
        assert "SortMergeJoin" not in p, (name, p)
    p13 = REGISTRY["t13_unigram_nll_quality"].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p13, p13


def test_scan_scorer_probe_is_single_stage(spark, sf_dir):
    """The parquet scan scorer's dispatch is a shuffle-free range leaf:
    the whole probe (scan+score -> TakeOrdered) must plan with ZERO
    Exchange nodes — the r6 fix that removed the per-probe task-table
    shuffle stage (r5's fixed ~0.1-0.2 s/probe)."""
    from laion_spark.operators.knn import knn_search_parquet

    df = knn_search_parquet(
        spark, f"{sf_dir}/embeddings.parquet", QVEC64, k=5,
        vector_col="embedding", select=["vec_id"],
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_q93_profit_dims_broadcast_no_python(spark, sf_dir):
    """TPC-H Q9 shape: part/supplier/nation must broadcast (only the
    ps build and lineitem-orders may shuffle data) and the whole plan
    stays JVM-side. Counted in "simple" mode — formatted mode prints
    every node twice (tree + details), which double-counts."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q93_product_type_profit"].fn(spark, sf_dir), "simple")
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "Python" not in p, p


def test_q95_correlation_is_single_orderkey_shuffle(spark, sf_dir):
    """TPC-H Q21 shape: the EXISTS/NOT-EXISTS double correlation must
    collapse into one per-order aggregate joined back to the lines.
    At most two non-broadcast joins may remain (lineitem-orders, and
    the aggregate re-join — both keyed on l_orderkey so the exchange
    is reused), never the textbook two extra lineitem self-joins —
    which would show as a third join AND a third lineitem scan."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q95_waiting_orders"].fn(spark, sf_dir), "simple")
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 2, p
    # lineitem feeds base + the per-order aggregate (2 scans, deduped
    # to one at runtime by ReusedExchange), never 3 (base, exists-side,
    # not-exists-side)
    assert p.count("lineitem.parquet") <= 2, p


def test_q96_threshold_is_one_row_broadcast(spark, sf_dir):
    """TPC-H Q11 shape: the fraction-of-total threshold must arrive as
    a 1-row broadcast (BroadcastNestedLoopJoin), and the per-part
    value aggregate must be REUSED for the total at runtime (AQE
    ReusedExchange) rather than recomputed from a third lineitem
    scan."""
    from laion_spark.catalog import REGISTRY

    df = REGISTRY["q96_important_part_value"].fn(spark, sf_dir)
    p = plan_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in p, p
    # static plan: val appears twice (filter side + total side) but
    # never more — a third lineitem scan means the reuse is gone
    assert p.count("lineitem.parquet") <= 2, p
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed


def test_x05_partitioned_readback_prunes_directories(spark, sf_dir):
    """x05's read-back of the lang-partitioned layout must resolve
    lang='en' at the DIRECTORY level: the scan's PartitionFilters
    carry the predicate and PartitionCount shrinks below the full
    lang fan-out — zero non-en row groups are ever opened."""
    from laion_spark.catalog import REGISTRY

    df = REGISTRY["x05_partitioned_sink_prune"].fn(spark, sf_dir)
    p = plan_str(df)
    part = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert any("lang" in ln for ln in part), p
    # the pruned filter must NOT degrade to a data filter on lang
    push = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert not any("lang" in ln for ln in push), push


def test_t16_vocab_joins_broadcast(spark, sf_dir):
    """t16's frequency map and corpus total must both come back as
    broadcasts: the only hash exchanges are the vocab aggregate and
    the per-doc aggregate — the token stream is never shuffled twice
    for the join."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["t16_unigram_surprisal"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" in p, p  # 1-row corpus total
    assert "SortMergeJoin" not in p, p


def test_minmax_scan_prunes_files_and_stays_exact(spark, sf_dir, tmp_path):
    """The footer-stats file pruner must (a) scan strictly fewer files
    than the key-sorted layout holds for a narrow key range, (b) keep
    every file when stats are useless (all ranges overlap), and (c)
    return exactly the rows a full-scan filter returns either way."""
    from laion_spark.sources.minmax import minmax_pruned_scan

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = str(tmp_path / "sorted")
    (
        o.repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.parquet(base)
    )
    lo, hi = 1000, 2000
    df, stats = minmax_pruned_scan(spark, base, "o_orderkey", lo, hi)
    assert stats["files_total"] >= 8
    assert stats["files_scanned"] < stats["files_total"], stats
    expect = o.filter(F.col("o_orderkey").between(lo, hi)).count()
    assert df.count() == expect

    # unsorted layout: every file spans the whole key range -> zero
    # pruning, identical answer (pruning is never a correctness input)
    flat = str(tmp_path / "flat")
    o.repartition(8).write.parquet(flat)
    df2, stats2 = minmax_pruned_scan(spark, flat, "o_orderkey", lo, hi)
    assert stats2["files_scanned"] == stats2["files_total"]
    assert df2.count() == expect


def test_exact_dedup_survivor_pick_is_narrow_aggregate(spark, sf_dir):
    """Default exact_dedup must keep wide rows OUT of the survivor
    pick: the pick is a map-side-combined aggregate over
    (keys, order) only — no Window over full rows — and the
    survivor-side scan prunes the payload column (min(struct) lowers
    to SortAggregate: structs have no fixed-width agg buffer, but the
    sort input is the narrow projection, which is the point).
    Results must be identical to the single-window form, incl.
    group counts."""
    from laion_spark.operators.dedup import exact_dedup

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = exact_dedup(d, keys=["lang", "source"], order_by=["doc_id"], count_col="n")
    p = plan_str(out, "formatted")
    assert "Aggregate" in p, p
    assert "Window" not in p, p
    schemas = [ln.strip() for ln in p.splitlines() if "ReadSchema:" in ln]
    assert len(schemas) == 2, p
    assert any("text" not in s for s in schemas), p  # survivor side is narrow

    legacy = exact_dedup(
        d, keys=["lang", "source"], order_by=["doc_id"], count_col="n",
        project_first=False,
    )
    cols = legacy.columns
    got = sorted(tuple(r[c] for c in cols) for r in out.collect())
    want = sorted(tuple(r[c] for c in cols) for r in legacy.collect())
    assert got == want


def test_e27_decay_rollup_broadcasts_no_python(spark, sf_dir):
    """The per-user max-hour rollup must broadcast back onto the
    events scan (no user-key shuffle of the raw rows for the join)
    and the dyadic decay arithmetic stays JVM-side."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["e27_decayed_sum"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "Python" not in p, p


def test_t20_mixture_weights_broadcast_no_python(spark, sf_dir):
    """The 20-row normalizing total must broadcast onto the per-source
    rollup (BroadcastNestedLoopJoin for the single-row cross join);
    the sqrt/fold arithmetic stays JVM-side."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["t20_source_mixing_weights"].fn(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "Python" not in p, p


def test_q115_auc_window_runs_on_rollup_not_raw_rows(spark, sf_dir):
    """The AUC prefix-sum window must consume the distinct-score
    rollup (HashAggregate below the Window), never the raw orders
    scan — the property that keeps the sort tiny at any scale."""
    from laion_spark.catalog import REGISTRY

    df = REGISTRY["q115_array_auc"].fn(spark, sf_dir)
    p = plan_str(df, "formatted")
    assert "Window" in p, p
    win = p.index("Window")
    # some HashAggregate node must appear as a descendant (later in
    # the formatted tree dump) of the Window operator
    assert "HashAggregate" in p[win:], p
    assert "Python" not in p, p


def test_new_function_family_entries_stay_jvm_side(spark, sf_dir):
    """Every session-2/3 function-family entry is pure built-in
    expression work: no Python node may appear in any plan."""
    from laion_spark.catalog import REGISTRY

    for name in [
        "q116_morton_zorder",
        "q117_point_in_polygon",
        "q118_rounding_family",
        "q119_group_bitmap",
        "q120_geohash",
        "q121_bit_family",
        "q122_weighted_agg_family",
        "q123_array_transform_family",
        "q124_minhash_signature",
        "q125_quantiles_exact_multi",
        "q126_int_arithmetic_family",
        "q127_parse_datetime_family",
        "q129_query_normalize",
        "e28_proportions_ztest",
    ]:
        p = plan_str(REGISTRY[name].fn(spark, sf_dir), "simple")
        assert "Python" not in p, (name, p)


def test_e31_hierarchy_walk_broadcasts_dict_every_round(spark, sf_dir):
    """The dictGetHierarchy walk must resolve every round through a
    BROADCAST of the dictionary (fact rows never shuffle on the walk
    key) and contain no sort-merge fallback."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["e31_dict_hierarchy"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "Python" not in p, p


def test_q132_mad_joins_median_rollup_broadcast(spark, sf_dir):
    """The MAD second pass must join the tiny per-group median rollup
    back as a broadcast, never shuffling the row side twice."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q132_robust_median_mad"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "Python" not in p, p


def test_v12_distance_family_is_shuffle_free_topk(spark, sf_dir):
    """All four distance metrics are scan-local expression work ending
    in TakeOrderedAndProject — no Exchange, no Python."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["v12_distance_family"].fn(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in p, p
    assert "Exchange" not in p, p
    assert "Python" not in p, p


def test_session3_entries_stay_jvm_side(spark, sf_dir):
    """Every session-3 entry is built-in expression work: no Python
    node may appear in any plan."""
    from laion_spark.catalog import REGISTRY

    for name in [
        "q131_anova_oneway",
        "q133_information_value",
        "q134_group_array_intersect",
        "q135_count_matches",
        "q136_format_readable",
        "q137_multisearch",
        "q138_enumerate_uniq",
        "q139_json_array_flatten",
        "q140_percent_rank_cume_dist",
        "e32_time_slots",
        "t21_pii_pattern_scan",
        "d16_paragraph_dedup",
        "d17_url_canonical_dedup",
        "v13_normalize_quantize",
    ]:
        p = plan_str(REGISTRY[name].fn(spark, sf_dir), "simple")
        assert "Python" not in p, (name, p)


def test_d18_probe_grams_broadcast(spark, sf_dir):
    """The benchmark probe shingle set must BROADCAST into the
    contamination semi-join — the corpus shingle stream never
    shuffles on the gram key for the probe comparison."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["d18_benchmark_decontamination"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "Python" not in p, p


def test_r9_entries_stay_jvm_side(spark, sf_dir):
    """q141-q143 are pure built-in expression work (decode map, two
    narrow aggregates + map fill, bounded array lambdas): no Python
    node may appear in any plan."""
    from laion_spark.catalog import REGISTRY

    for name in [
        "q141_transform_decode",
        "q142_group_array_insert_at",
        "q143_array_fill",
    ]:
        p = plan_str(REGISTRY[name].fn(spark, sf_dir), "simple")
        assert "Python" not in p, (name, p)


def test_q144_kendall_pairs_meet_in_brand_blocks(spark, sf_dir):
    """q144's pair generation must be a brand-keyed equi-join (the
    q103/t19 blocking discipline) — never a cartesian/NLJ all-pairs
    step — and the whole pipeline stays JVM-side."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["q144_kendall_tau"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "Python" not in p, p


def test_v14_rrf_legs_are_take_ordered(spark, sf_dir):
    """v14's two retrieval legs must reach the corpus as sort+limit
    (TakeOrdered), with row_number applied only to the bounded top-100
    lists — a full global Sort before the limit would be the
    100 TB-scale bug the note rules out. The BM25/tfidf legs stay
    JVM-side (no Python stage anywhere in v14/t22/t23/t24)."""
    from laion_spark.catalog import REGISTRY

    p = plan_str(REGISTRY["v14_rrf_hybrid_search"].fn(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in p, p
    assert "Python" not in p, p
    for name in ["t22_tfidf_top_terms", "t23_bm25_rank", "t24_bpe_learn_merges"]:
        q = plan_str(REGISTRY[name].fn(spark, sf_dir), "simple")
        assert "Python" not in q, (name, q)
