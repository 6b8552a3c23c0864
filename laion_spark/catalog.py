"""Operator/query catalog — the engine's verifiable surface.

Every implemented operator from SURVEY.md §2 gets an entry here:
a Spark plan builder ``fn(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) an ANSI-SQL oracle string that DuckDB
runs over the same parquet tables. ``__spark_entry__.py`` re-exports
this registry for the verification driver.

Cross-engine determinism rules used throughout (SURVEY.md §5.2):
  - every query is total-ordered (ties broken by a key column) before
    any LIMIT;
  - grouped SUMs over doubles are computed by casting each addend to
    DECIMAL(18,6) (exact, order-independent summation in both engines)
    and casting the result back to double — float summation order
    across Spark partitions can never flip a rounding boundary;
  - per-row float math (products, sqrt, ln, distances) is IEEE-identical
    across engines and rounded to 6 dp on both sides;
  - array folds (dot products, L2) run left-to-right in array order in
    both engines (Spark ``aggregate`` ≡ DuckDB ``list_aggregate``), so
    they are bit-identical before rounding;
  - timestamps never cross the boundary raw: they are projected as
    epoch microseconds (``unix_micros`` ≡ ``epoch_us``) or formatted
    date strings; dates as DATE;
  - integer-kind outputs are cast so both engines agree on the width
    (DuckDB ``year()`` is BIGINT, Spark's is INT, etc.).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from laion_spark.functions.vector import (
    as_double,
    cosine_similarity,
    dot,
    l2_distance,
    l2_distance_sq,
    vec_add,
    vec_lit,
    vec_scale,
)
from laion_spark.functions.time import with_event_time
from laion_spark.session import tune_session


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    note: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, note: str = ""):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, note=note)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent double sum: exact DECIMAL(18,6) accumulation,
    result cast back to double. Oracle twin: ``CAST(sum(CAST(x AS
    DECIMAL(18,6))) AS DOUBLE)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,6)")).cast("double").alias(alias)


def _dsum_sql(expr: str) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


# --- shared vector constants -------------------------------------------------

#: deterministic 64-d query vector (embeddings table is dim 64)
QVEC64 = [round(((j * 37) % 19 - 9) / 10.0, 1) for j in range(64)]
_QLIT = "[" + ", ".join(f"{x}::DOUBLE" for x in QVEC64) + "]"


def _l2_sql(elem_expr: str, dim: int = 64) -> str:
    """DuckDB squared-L2 between a per-index element expression (use
    ``{i}`` for the index variable) and the shared query vector."""
    return (
        f"list_aggregate(list_transform(range(1, {dim + 1}), "
        f"i -> ({elem_expr} - ({_QLIT})[i]) ^ 2), 'sum')"
    )


_L2_EMB = _l2_sql("CAST(embedding[i] AS DOUBLE)")


# =============================================================================
# V-class: vector search (SURVEY.md §2.3 — the heart of the reference)
# =============================================================================


@query(
    "v01_knn_l2_topk",
    oracle=f"""
    SELECT vec_id, label,
           round(sqrt({_L2_EMB}), 6) AS score
    FROM embeddings
    ORDER BY sqrt({_L2_EMB}), vec_id
    LIMIT 10
    """,
    note="reference canonical query V7 (search.py:20-35): top-k by L2Distance",
)
def v01_knn_l2_topk(spark, sf_dir):
    from laion_spark.operators.knn import knn_search

    emb = t(spark, sf_dir, "embeddings")
    out = knn_search(emb, QVEC64, k=10, vector_col="embedding", select=["vec_id", "label"], tiebreak=["vec_id"])
    return out.select("vec_id", "label", F.round("score", 6).alias("score"))


@query(
    "v02_knn_l2_filtered",
    oracle=f"""
    SELECT vec_id,
           round(sqrt({_L2_EMB}), 6) AS score
    FROM embeddings
    WHERE label IN (1, 3, 5) AND vec_id % 2 = 0
    ORDER BY sqrt({_L2_EMB}), vec_id
    LIMIT 10
    """,
    note="V7 + P3: arbitrary WHERE below the scoring projection (search.py:24)",
)
def v02_knn_l2_filtered(spark, sf_dir):
    from laion_spark.operators.knn import knn_search

    emb = t(spark, sf_dir, "embeddings")
    out = knn_search(
        emb,
        QVEC64,
        k=10,
        vector_col="embedding",
        filter="label IN (1, 3, 5) AND vec_id % 2 = 0",
        select=["vec_id"],
        tiebreak=["vec_id"],
    )
    return out.select("vec_id", F.round("score", 6).alias("score"))


_DOT = f"list_aggregate(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ({_QLIT})[i]), 'sum')"
_NORM_E = "sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
_NORM_Q = f"sqrt(list_aggregate(list_transform({_QLIT}, x -> x * x), 'sum'))"


@query(
    "v03_knn_cosine_topk",
    oracle=f"""
    SELECT vec_id,
           round({_DOT} / ({_NORM_E} * {_NORM_Q}), 6) AS score
    FROM embeddings
    ORDER BY {_DOT} / ({_NORM_E} * {_NORM_Q}) DESC, vec_id
    LIMIT 10
    """,
    note="cosine top-k (north star: similarity search over embedding column)",
)
def v03_knn_cosine_topk(spark, sf_dir):
    from laion_spark.operators.knn import knn_search

    emb = t(spark, sf_dir, "embeddings")
    out = knn_search(emb, QVEC64, k=10, vector_col="embedding", metric="cosine", select=["vec_id"], tiebreak=["vec_id"])
    return out.select("vec_id", F.round("score", 6).alias("score"))


_ARITH = _l2_sql("(CAST(embedding[i] AS DOUBLE) * 0.5 + 0.1)")


@query(
    "v04_vector_arithmetic_topk",
    oracle=f"""
    SELECT vec_id, round(sqrt({_ARITH}), 6) AS score
    FROM embeddings
    ORDER BY sqrt({_ARITH}), vec_id
    LIMIT 10
    """,
    note="arrayMap surface V3/V5 (search.py:100-104): scale+shift then L2",
)
def v04_vector_arithmetic_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    v = F.transform(as_double("embedding"), lambda x: x * F.lit(0.5) + F.lit(0.1))
    s2 = l2_distance_sq(v, vec_lit(QVEC64))
    out = (
        emb.select("vec_id", s2.alias("_s2"))
        .orderBy(F.col("_s2").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    return out.select("vec_id", F.round(F.sqrt("_s2"), 6).alias("score"))


@query(
    "v05_vector_elementwise_ops",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS e1,
           round(list_aggregate(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)), 'sum') / 8, 6) AS head_mean,
           round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS emax,
           round(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 6) AS emin
    FROM embeddings
    WHERE vec_id % 10 = 0
    ORDER BY vec_id
    """,
    note="array function surface Q20: size/element_at/slice/aggregate/min/max",
)
def v05_vector_elementwise_ops(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").filter("vec_id % 10 = 0")
    ad = as_double("embedding")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at(ad, 1), 6).alias("e1"),
        F.round(
            F.aggregate(F.slice(ad, 1, 8), F.lit(0.0), lambda a, x: a + x) / 8, 6
        ).alias("head_mean"),
        F.round(F.array_max(ad), 6).alias("emax"),
        F.round(F.array_min(ad), 6).alias("emin"),
    ).orderBy("vec_id")


# =============================================================================
# Q-class: relational surface (SURVEY.md §2.9, all Catalyst built-ins)
# =============================================================================


@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum_sql('l_quantity')} AS sum_qty,
           {_dsum_sql('l_extendedprice')} AS sum_base_price,
           {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           round({_dsum_sql('l_quantity')} / count(*), 6) AS avg_qty,
           round({_dsum_sql('l_extendedprice')} / count(*), 6) AS avg_price,
           round({_dsum_sql('l_discount')} / count(*), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    note="TPC-H Q1 shape (Q7/Q8): hash aggregate w/ partial+final via AQE",
)
def q01_pricing_summary(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double") / F.count("*"), 6).alias("avg_price"),
            F.round(F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double") / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q02_join_revenue_by_segment",
    oracle=f"""
    SELECT c.c_mktsegment,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    note="Q1 equi inner join chain; lineitem⋈orders shuffles on orderkey, customer side broadcast",
)
def q02_join_revenue_by_segment(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(dsum(rev, "revenue"), F.count("*").alias("n_items"))
        .orderBy("c_mktsegment")
    )


@query(
    "q03_broadcast_join_region",
    oracle="""
    SELECT r.r_name, n.n_name, count(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name
    """,
    note="Q2 broadcast join: both dims tiny -> BroadcastHashJoin, zero shuffle on the dims",
)
def q03_broadcast_join_region(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("r_name", "n_name")
    )


@query(
    "q04_left_outer_join",
    oracle="""
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
           CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,6))), 0) AS DOUBLE) AS total_spend
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'F'
    GROUP BY c.c_custkey
    ORDER BY c.c_custkey
    """,
    note="Q3 outer join incl. customers with zero matching orders",
)
def q04_left_outer_join(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    cond = (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus == "F")
    return (
        cust.join(orders, cond, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), F.lit(0).cast("decimal(18,6)"))
            .cast("double")
            .alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q05_semi_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    ORDER BY c_custkey
    """,
    note="Q4 left-semi join (EXISTS)",
)
def q05_semi_join(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter("o_totalprice > 400000")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q06_anti_join",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
    note="Q4 left-anti join (NOT EXISTS)",
)
def q06_anti_join(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter("o_orderpriority = '1-URGENT'")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@query(
    "q07_group_having",
    oracle=f"""
    SELECT l_suppkey, {_dsum_sql('l_quantity')} AS total_qty, count(*) AS n
    FROM lineitem
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 100
    ORDER BY l_suppkey
    """,
    note="Q7 GROUP BY + HAVING",
)
def q07_group_having(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(dsum("l_quantity", "total_qty"), F.count("*").alias("n"))
        .filter(F.col("total_qty") > 100)
        .orderBy("l_suppkey")
    )


@query(
    "q08_distinct_count",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_custs,
           count(DISTINCT CAST(o_orderdate AS DATE)) AS n_days
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    note="Q9 exact distinct aggregation (expand + two-phase agg in Spark)",
)
def q08_distinct_count(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.countDistinct(F.col("o_orderdate").cast("date")).alias("n_days"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q09_rollup",
    oracle=f"""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           {_dsum_sql('l_quantity')} AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
    note="Q10 grouping sets / rollup",
)
def q09_rollup(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", "sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


@query(
    "q10_window_rank",
    oracle="""
    SELECT * FROM (
      SELECT c.c_mktsegment, o.o_orderkey,
             round(o.o_totalprice, 6) AS price,
             row_number() OVER (PARTITION BY c.c_mktsegment ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn,
             CAST(rank()  OVER (PARTITION BY c.c_mktsegment ORDER BY CAST(o.o_totalprice AS DECIMAL(18,6)) DESC) AS BIGINT) AS rk,
             CAST(dense_rank() OVER (PARTITION BY c.c_mktsegment ORDER BY CAST(o.o_totalprice AS DECIMAL(18,6)) DESC) AS BIGINT) AS drk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rn <= 5
    ORDER BY c_mktsegment, rn
    """,
    note="Q11 window ranking: top-N per group",
)
def q10_window_rank(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    w = W.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    wd = W.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").cast("decimal(18,6)").desc())
    return (
        j.select(
            "c_mktsegment",
            "o_orderkey",
            F.round("o_totalprice", 6).alias("price"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(wd).cast("bigint").alias("rk"),
            F.dense_rank().over(wd).cast("bigint").alias("drk"),
        )
        .filter(F.col("rn") <= 5)
        .orderBy("c_mktsegment", "rn")
    )


@query(
    "q11_window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           unix_ms AS ts_ms,
           round(o_totalprice - lag(o_totalprice) OVER w, 6) AS price_delta,
           lead(o_orderkey) OVER w AS next_order
    FROM (SELECT *, epoch_us(o_orderdate) // 1000 AS unix_ms FROM orders WHERE o_custkey % 10 = 0)
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    note="Q12 window analytics lag/lead",
)
def q11_window_lag_lead(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").filter("o_custkey % 10 = 0")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            (F.unix_micros(F.col("o_orderdate").cast("timestamp")) / F.lit(1000)).cast("bigint").alias("ts_ms"),
            F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 6).alias("price_delta"),
            F.lead("o_orderkey").over(w).alias("next_order"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "q12_window_frame_moving_sum",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) OVER (
             PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_qty
    FROM lineitem
    WHERE l_suppkey <= 3
    ORDER BY l_suppkey, l_orderkey, l_linenumber
    """,
    note="Q13 window frame rowsBetween",
)
def q12_window_frame_moving_sum(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter("l_suppkey <= 3")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-2, 0)
    )
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).over(w).cast("double").alias("moving_qty"),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


@query(
    "q13_global_sort_topn",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 6) AS price, l_returnflag
    FROM lineitem
    WHERE l_quantity > 30 AND l_returnflag = 'R'
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
    note="Q14/Q15 multi-key sort + top-N -> TakeOrderedAndProject, filter pushed to scan",
)
def q13_global_sort_topn(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") > 30) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 6).alias("price"), "l_returnflag")
        .orderBy(F.col("price").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
    )


@query(
    "q14_set_ops",
    oracle="""
    WITH big AS (SELECT p_partkey FROM part WHERE p_size > 25),
         brand AS (SELECT p_partkey FROM part WHERE p_brand IN ('Brand#11','Brand#12','Brand#13'))
    SELECT 'union' AS op, p_partkey FROM (SELECT p_partkey FROM big UNION SELECT p_partkey FROM brand)
    UNION ALL
    SELECT 'intersect' AS op, p_partkey FROM (SELECT p_partkey FROM big INTERSECT SELECT p_partkey FROM brand)
    UNION ALL
    SELECT 'except' AS op, p_partkey FROM (SELECT p_partkey FROM big EXCEPT SELECT p_partkey FROM brand)
    ORDER BY op, p_partkey
    """,
    note="Q16 set operators union/intersect/except",
)
def q14_set_ops(spark, sf_dir):
    part = t(spark, sf_dir, "part")
    big = part.filter("p_size > 25").select("p_partkey")
    brand = part.filter(F.col("p_brand").isin("Brand#11", "Brand#12", "Brand#13")).select("p_partkey")
    u = big.union(brand).distinct().select(F.lit("union").alias("op"), "p_partkey")
    i = big.intersect(brand).select(F.lit("intersect").alias("op"), "p_partkey")
    e = big.subtract(brand).select(F.lit("except").alias("op"), "p_partkey")
    return u.unionByName(i).unionByName(e).orderBy("op", "p_partkey")


@query(
    "q15_string_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS uname,
           lower(p_brand) AS lbrand,
           CAST(length(p_name) AS INTEGER) AS name_len,
           substring(p_name, 1, 5) AS name5,
           concat(p_brand, ':', p_type) AS brand_type,
           trim(concat(' ', p_name, ' ')) AS trimmed,
           replace(p_name, ' ', '_') AS snake,
           CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END AS has_a,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
           string_split(p_name, ' ')[1] AS first_word,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded
    FROM part
    WHERE p_partkey % 5 = 0
    ORDER BY p_partkey
    """,
    note="Q17 string function surface",
)
def q15_string_functions(spark, sf_dir):
    part = t(spark, sf_dir, "part").filter("p_partkey % 5 = 0")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.lower("p_brand").alias("lbrand"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
        F.when(F.col("p_name").like("%a%"), 1).otherwise(0).alias("has_a"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("devoweled"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded"),
    ).orderBy("p_partkey")


@query(
    "q16_date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS od,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(day(o_orderdate) AS INTEGER) AS dom,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(o_orderdate AS DATE) + 90 AS due,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
           last_day(CAST(o_orderdate AS DATE)) AS eom,
           strftime(o_orderdate, '%Y-%m-%d') AS ods
    FROM orders
    WHERE o_orderkey % 100 = 0
    ORDER BY o_orderkey
    """,
    note="Q18 date/time function surface",
)
def q16_date_functions(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").filter("o_orderkey % 100 = 0")
    od = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        od.alias("od"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.date_add(od, 90).alias("due"),
        F.datediff(od, F.lit("1995-01-01").cast("date")).alias("days_since"),
        F.last_day(od).alias("eom"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("ods"),
    ).orderBy("o_orderkey")


@query(
    "q17_math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_discount - 0.05), 6) AS adisc,
           CAST(ceil(l_quantity / 7) AS BIGINT) AS cq,
           CAST(floor(l_quantity / 7) AS BIGINT) AS fq,
           round(l_extendedprice * 0.1, 6) AS tithe,
           round(pow(l_quantity, 2), 6) AS q2,
           round(sqrt(l_extendedprice), 6) AS sq,
           round(ln(l_extendedprice), 6) AS lnp,
           round(exp(l_discount), 6) AS ed,
           CAST(l_quantity AS BIGINT) % 7 AS qmod,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn
    FROM lineitem
    WHERE l_orderkey % 250 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
    note="Q19 math function surface",
)
def q17_math_functions(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter("l_orderkey % 250 = 0")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("adisc"),
        F.ceil(F.col("l_quantity") / 7).alias("cq"),
        F.floor(F.col("l_quantity") / 7).alias("fq"),
        F.round(F.col("l_extendedprice") * 0.1, 6).alias("tithe"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("q2"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sq"),
        F.round(F.log("l_extendedprice"), 6).alias("lnp"),
        F.round(F.exp("l_discount"), 6).alias("ed"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qmod"),
        F.signum(F.col("l_discount") - 0.05).alias("sgn"),
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "q18_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS bucket,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status,
           round(least(o_totalprice, 250000.0), 6) AS capped,
           round(greatest(o_totalprice, 50000.0), 6) AS floored,
           CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END AS urgent
    FROM orders
    WHERE o_orderkey % 50 = 0
    ORDER BY o_orderkey
    """,
    note="Q23 conditional expressions",
)
def q18_conditional(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").filter("o_orderkey % 50 = 0")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("bucket"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias("status"),
        F.round(F.least("o_totalprice", F.lit(250000.0)), 6).alias("capped"),
        F.round(F.greatest("o_totalprice", F.lit(50000.0)), 6).alias("floored"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0).alias("urgent"),
    ).orderBy("o_orderkey")


@query(
    "q19_json_functions",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           json_extract_string(props, '$.missing') AS missing
    FROM events
    WHERE event_id % 20 = 0
    ORDER BY event_id
    """,
    note="Q22 json extraction (events.props is a JSON string; reference P6 parses exif JSON)",
)
def q19_json_functions(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter("event_id % 20 = 0")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.get_json_object("props", "$.missing").alias("missing"),
    ).orderBy("event_id")


@query(
    "q20_map_functions",
    oracle="""
    SELECT event_id, event_type AS mtype, 'id,type' AS keys, 2 AS n_keys
    FROM events WHERE event_id % 100 = 0 ORDER BY event_id
    """,
    note="Q21 map construction/access executed Spark-side (exif-style map, reference process.py:76); oracle checks values",
)
def q20_map_functions(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter("event_id % 100 = 0")
    m = F.create_map(
        F.lit("id"), F.col("event_id").cast("string"), F.lit("type"), F.col("event_type")
    )
    return ev.select(
        "event_id",
        F.element_at(m, "type").alias("mtype"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys"),
        F.size(F.map_keys(m)).alias("n_keys"),
    ).orderBy("event_id")


# =============================================================================
# E-class: event/time-series surface. ``ev()`` normalizes events.ts to
# canonical epoch micros (= DuckDB's ``epoch_us(ts)``) via the
# dtype-aware helper — events.parquet has shipped both as
# TIMESTAMP(MICROS) and as nanos-as-bigint; never assume one.
# =============================================================================


def ev(spark, sf_dir) -> DataFrame:
    return with_event_time(t(spark, sf_dir, "events"))


_SESSION_GAP_US = 30 * 60 * 1_000_000


@query(
    "e01_tumbling_window_agg",
    oracle=f"""
    SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 1000000 AS hour_s,
           event_type,
           count(*) AS n,
           {_dsum_sql('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    note="Q28 batch twin of the tumbling-window aggregation (streaming parity tested in tests/)",
)
def e01_tumbling_window_agg(spark, sf_dir):
    e = ev(spark, sf_dir)
    return (
        e.groupBy(
            (F.unix_micros(F.date_trunc("hour", "ts_t")) / F.lit(1_000_000)).cast("bigint").alias("hour_s"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), dsum("value", "total_value"))
        .orderBy("hour_s", "event_type")
    )


@query(
    "e02_sessionization",
    oracle=f"""
    WITH g AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL
                       OR epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
    ), s AS (
      SELECT user_id, ts_us,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    ), per_session AS (
      SELECT user_id, session_id, count(*) AS n_events, max(ts_us) - min(ts_us) AS dur_us
      FROM s GROUP BY user_id, session_id
    )
    SELECT user_id,
           count(*) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS total_events,
           round(CAST(sum(n_events) AS DOUBLE) / count(*), 6) AS avg_session_events,
           CAST(max(dur_us) AS BIGINT) AS max_session_dur_us
    FROM per_session GROUP BY user_id ORDER BY user_id
    """,
    note="Q29 batch sessionization: gap>30min starts a new session (streaming session_window parity in tests/)",
)
def e02_sessionization(spark, sf_dir):
    e = ev(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    wcum = W.partitionBy("user_id").orderBy("ts_us").rowsBetween(W.unboundedPreceding, 0)
    g = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    ).withColumn("session_id", F.sum("is_new").over(wcum))
    per_session = g.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("dur_us"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
            F.round(F.sum("n_events").cast("double") / F.count("*"), 6).alias("avg_session_events"),
            F.max("dur_us").alias("max_session_dur_us"),
        )
        .orderBy("user_id")
    )


@query(
    "e03_asof_latest_before",
    oracle="""
    SELECT user_id, event_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
           round(value, 6) AS value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) AS rn
      FROM events
      WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15 00:00:00'
    ) WHERE rn = 1
    ORDER BY user_id
    """,
    note="Q6 as-of (latest-before) via ordered window; on a cluster partition-prunes by user_id",
)
def e03_asof_latest_before(spark, sf_dir):
    e = ev(spark, sf_dir).filter(F.col("ts_t") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy(F.col("ts_us").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id", "event_type", "ts_us", F.round("value", 6).alias("value"))
        .orderBy("user_id")
    )


@query(
    "e04_range_join_conversions",
    oracle="""
    SELECT v.user_id, count(*) AS n_conversions
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND epoch_us(CAST(p.ts AS TIMESTAMP)) > epoch_us(CAST(v.ts AS TIMESTAMP))
     AND epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP)) <= 600000000
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    GROUP BY v.user_id
    ORDER BY v.user_id
    """,
    note="Q5 bounded range/theta join: purchase within 10min of a view, equi on user_id + range predicate",
)
def e04_range_join_conversions(spark, sf_dir):
    e = ev(spark, sf_dir)
    v = e.filter("event_type = 'view'").select(F.col("user_id").alias("u"), F.col("ts_us").alias("v_ts"))
    p = e.filter("event_type = 'purchase'").select(F.col("user_id").alias("u2"), F.col("ts_us").alias("p_ts"))
    j = v.join(p, (v.u == p.u2) & (p.p_ts > v.v_ts) & (p.p_ts - v.v_ts <= 600_000_000))
    return j.groupBy(F.col("u").alias("user_id")).agg(F.count("*").alias("n_conversions")).orderBy("user_id")


# =============================================================================
# T/D-class: text analysis + dedup over documents (north star Q24/Q26)
# =============================================================================


@query(
    "t01_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
           round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS distinct_ratio,
           n_chars
    FROM documents
    WHERE doc_id % 5 = 0
    ORDER BY doc_id
    """,
    note="Q26 token counting / vocabulary stats, all JVM-side built-ins",
)
def t01_token_stats(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter("doc_id % 5 = 0")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6).alias("distinct_ratio"),
        "n_chars",
    ).orderBy("doc_id")


@query(
    "t02_top_tokens",
    oracle="""
    SELECT token, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 30
    """,
    note="Q26 corpus token frequency: explode + hash agg; partial agg map-side at scale",
)
def t02_top_tokens(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(30)
    )


@query(
    "t03_quality_scores",
    oracle="""
    SELECT doc_id,
           round(CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS stopword_ratio,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS avg_token_len,
           CASE WHEN n_chars < 100 THEN 1 ELSE 0 END AS is_short
    FROM documents
    WHERE doc_id % 7 = 0
    ORDER BY doc_id
    """,
    note="Q26 quality scoring: stopword ratio + mean token length (laion_spark.functions.text)",
)
def t03_quality_scores(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter("doc_id % 7 = 0")
    toks = F.split("text", " ")
    stop = F.size(F.filter(toks, lambda x: x.isin("the", "a")))
    return d.select(
        "doc_id",
        F.round(stop.cast("double") / F.size(toks), 6).alias("stopword_ratio"),
        F.round(F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / F.size(toks), 6).alias(
            "avg_token_len"
        ),
        F.when(F.col("n_chars") < 100, 1).otherwise(0).alias("is_short"),
    ).orderBy("doc_id")


@query(
    "t04_lang_distribution",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang ORDER BY lang
    """,
    note="corpus profile by language (lang-id heuristic itself lives in functions/text.py)",
)
def t04_lang_distribution(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.sum("n_chars").cast("double") / F.count("*"), 6).alias("avg_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


@query(
    "d01_exact_dedup",
    oracle="""
    WITH ranked AS (
      SELECT *, row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY lang, source) AS group_n
      FROM documents
    )
    SELECT lang, source, doc_id AS keep_doc_id, CAST(group_n AS BIGINT) AS n_rows
    FROM ranked WHERE rn = 1
    ORDER BY lang, source
    """,
    note="Q24 exact dedup with deterministic survivor (min key), not dropDuplicates' arbitrary pick",
)
def d01_exact_dedup(spark, sf_dir):
    from laion_spark.operators.dedup import exact_dedup

    d = t(spark, sf_dir, "documents")
    out = exact_dedup(d, keys=["lang", "source"], order_by=["doc_id"], count_col="n_rows")
    return out.select("lang", "source", F.col("doc_id").alias("keep_doc_id"), "n_rows").orderBy("lang", "source")


@query(
    "d02_fingerprint_md5",
    oracle="""
    SELECT doc_id, md5(text) AS fp, CAST(length(text) AS INTEGER) AS text_len
    FROM documents WHERE doc_id % 25 = 0 ORDER BY doc_id
    """,
    note="document fingerprinting via md5 (portable across engines; rolling-hash variant is Spark-only)",
)
def d02_fingerprint_md5(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter("doc_id % 25 = 0")
    return d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"), F.length("text").alias("text_len")).orderBy(
        "doc_id"
    )


@query(
    "d03_jaccard_similar_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents WHERE doc_id < 100
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT da, db,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
    ORDER BY CAST(i AS DOUBLE) / (sa.n + sb.n - i) DESC, da, db
    LIMIT 20
    """,
    note="Q25 exact n-gram/token Jaccard near-dup join (the verify step behind MinHash-LSH candidates)",
)
def d03_jaccard_similar_pairs(spark, sf_dir):
    from laion_spark.operators.dedup import jaccard_similar_pairs

    d = t(spark, sf_dir, "documents").filter("doc_id < 100")
    return jaccard_similar_pairs(d, id_col="doc_id", text_col="text", ngram=1, top=20)


# =============================================================================
# E-class (expression compiler): concept math (SURVEY.md §2.4) — the
# Spark side constant-folds the expression driver-side (HashEncoder
# leaves); the oracle recomputes the SAME arithmetic independently in
# SQL from the leaf vectors, so the fold itself is what's verified.
# =============================================================================


def _leaf_lit(word: str) -> str:
    from laion_spark.functions.encoder import hash_embed

    return "[" + ", ".join(f"{x!r}::DOUBLE" for x in hash_embed(word, 64)) + "]"


def _concept_query(expr_text: str, qexpr_sql_fn):
    """Build the Spark fn + oracle for one concept expression; the
    oracle's per-index query element is produced by ``qexpr_sql_fn``
    from the leaf literals."""

    def fn(spark, sf_dir):
        from laion_spark.functions.encoder import HashEncoder
        from laion_spark.operators.knn import knn_search

        emb = t(spark, sf_dir, "embeddings")
        qvec = __import__("laion_spark.plans.concept", fromlist=["eval_concept"]).eval_concept(
            expr_text, HashEncoder(64)
        )
        out = knn_search(emb, qvec, k=10, vector_col="embedding", select=["vec_id"], tiebreak=["vec_id"])
        return out.select("vec_id", F.round("score", 6).alias("score"))

    l2 = _l2_sql(f"CAST(embedding[i] AS DOUBLE)").replace(f"({_QLIT})[i]", qexpr_sql_fn("i"))
    oracle = f"""
    SELECT vec_id, round(sqrt({l2}), 6) AS score
    FROM embeddings
    ORDER BY sqrt({l2}), vec_id
    LIMIT 10
    """
    return fn, oracle


_fn_v06, _oracle_v06 = _concept_query(
    "(Cubism + Surrealism) / 2",
    lambda i: f"(({_leaf_lit('Cubism')})[{i}] + ({_leaf_lit('Surrealism')})[{i}]) / 2",
)
query(
    "v06_concept_math_avg",
    oracle=_oracle_v06,
    note="concept math '(Cubism + Surrealism) / 2' (published example, "
    "images/results_cubism_surealism.png): parse -> constant-fold -> kNN",
)(_fn_v06)

_fn_v07, _oracle_v07 = _concept_query(
    "(berlin - germany) + ('united kingdom' + bridge)",
    lambda i: (
        f"((({_leaf_lit('berlin')})[{i}] - ({_leaf_lit('germany')})[{i}]) + "
        f"(({_leaf_lit('united kingdom')})[{i}] + ({_leaf_lit('bridge')})[{i}]))"
    ),
)
query(
    "v07_concept_math_nested",
    oracle=_oracle_v07,
    note="concept math deep nesting + quoted phrase (published example, "
    "images/results_london_bridge.png); scalar-on-left also fixed (V4)",
)(_fn_v07)


# =============================================================================
# Similarity / dedup / text extensions (north star Q24-Q26) — approximate
# operators are declared WITHOUT oracle (rows-only driver check +
# recall-tested in tests/test_similarity.py), exact ones get oracles.
# =============================================================================


@query(
    "v08_knn_join",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
    d AS (
      SELECT q.qid, c.vec_id AS cid,
             sqrt(list_aggregate(list_transform(range(1, 65),
               i -> (CAST(c.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE)) ^ 2), 'sum')) AS s
      FROM embeddings c CROSS JOIN q
    )
    SELECT qid AS vec_id_q, cid AS vec_id_c, round(s, 6) AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s, cid) AS rn FROM d)
    WHERE rn <= 3
    ORDER BY vec_id_q, s, vec_id_c
    """,
    note="k-NN join: each query row's top-k corpus neighbors (Arrow-batched "
    "BLAS distance matrix per partition; corpus never shuffles)",
)
def v08_knn_join(spark, sf_dir):
    from laion_spark.operators.similarity import knn_join

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 5")
    return knn_join(emb, queries, k=3, corpus_id="vec_id", query_id="vec_id")


@query(
    "v09_label_centroids",
    oracle="""
    WITH ex AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS qv
      FROM embeddings
    )
    SELECT label, count(*) AS n, pos,
           round(sum(qv) / (count(*) * 1000000.0), 6) AS value
    FROM ex GROUP BY label, pos ORDER BY label, pos
    """,
    note="U4 grouped custom aggregate: per-label embedding centroid, "
    "exploded to scalar (label, n, pos, value) rows — algebraic "
    "(map-side combine) form; exact int64 sums so both engines round "
    "identically. The applyInPandas U4 surface (grouped_centroid) is "
    "parity-tested against this in tests/test_grouped.py",
)
def v09_label_centroids(spark, sf_dir):
    from laion_spark.operators.grouped import centroids_exploded

    return centroids_exploded(t(spark, sf_dir, "embeddings"), "label", "embedding")


@query(
    "a01_ann_lsh_topk",
    oracle=None,  # approximate by construction (SURVEY.md hard part #4):
    # recall >= 0.9 vs brute force asserted in tests/test_similarity.py
    note="ANN via multi-table sign-LSH (the engine's Annoy-table analog, "
    "V9): bucket-pruned candidates, exact rescore; rows-only check",
)
def a01_ann_lsh_topk(spark, sf_dir):
    from laion_spark.operators.similarity import RandomHyperplaneIndex

    emb = t(spark, sf_dir, "embeddings")
    idx = RandomHyperplaneIndex(dim=64, n_planes=6, n_tables=8)
    indexed = idx.build(emb, "embedding")
    qvec = QVEC64
    out = idx.search(indexed, qvec, k=10, select=["vec_id"], multiprobe=1, tiebreak=["vec_id"])
    return out.select("vec_id", F.round("score", 6).alias("score"))


@query(
    "d04_minhash_lsh_pairs",
    oracle=None,  # engine-specific hashing (xxhash64 banding); the exact-
    # Jaccard verify step is the oracle-checked d03
    note="MinHash+banded-LSH near-dup candidates verified by exact Jaccard "
    "(Q25); deterministic but not SQL-portable, rows-only check",
)
def d04_minhash_lsh_pairs(spark, sf_dir):
    from laion_spark.operators.dedup import minhash_lsh_pairs

    d = t(spark, sf_dir, "documents").filter("doc_id < 200")
    return minhash_lsh_pairs(d, "doc_id", "text", num_hashes=32, bands=16, ngram=1, threshold=0.5)


@query(
    "d05_simhash_fingerprints",
    oracle=None,  # xxhash64-based; deterministic, engine-specific
    note="SimHash 63-bit fingerprints (single-pass HOF vote fold); "
    "hamming-distance near-dup tested in tests/test_similarity.py",
)
def d05_simhash_fingerprints(spark, sf_dir):
    from laion_spark.operators.dedup import simhash

    d = t(spark, sf_dir, "documents").filter("doc_id % 20 = 0")
    return simhash(d, "doc_id", "text", ngram=2).orderBy("id")


@query(
    "t05_lang_id_quality",
    oracle=None,  # heuristic outputs; pinned by unit tests instead
    note="language-id heuristic + composite quality score + rolling-hash "
    "count (Q26) — all pure Catalyst expressions, no UDF",
)
def t05_lang_id_quality(spark, sf_dir):
    from laion_spark.functions import text as TX

    d = t(spark, sf_dir, "documents").filter("doc_id % 10 = 0")
    return d.select(
        "doc_id",
        TX.lang_id("text").alias("lang_guess"),
        F.round(TX.quality_score("text"), 6).alias("quality"),
        F.size(TX.rolling_hashes("text", 5)).alias("n_window_hashes"),
        TX.doc_fingerprint("text").alias("fp"),
    ).orderBy("doc_id")


@query(
    "s01_streaming_tumbling",
    oracle="""
    SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 3600) * 3600 AS w_start_s,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    note="Q28 structured streaming: events replayed as a file stream, "
    "watermarked tumbling-window agg run to completion via memory sink. "
    "DECIMAL-exact value sums make the streamed result hash-matchable "
    "against a batch SQL oracle (s07's pattern) — complete-mode output "
    "over a fully replayed stream equals the batch aggregate",
)
def s01_streaming_tumbling(spark, sf_dir):
    from laion_spark.streaming.windows import (
        replay_as_stream,
        run_to_completion,
        tumbling_counts,
    )

    tune_session(spark)
    stream = replay_as_stream(spark, f"{sf_dir}/events.parquet", n_splits=4)
    out = run_to_completion(tumbling_counts(stream), "cat_s01_tumbling")
    return out.select(
        (F.unix_micros("w_start") / 1_000_000).cast("bigint").alias("w_start_s"),
        "event_type",
        "n",
        "total",
    ).orderBy("w_start_s", "event_type")


@query(
    "m01_multimodal_decode",
    oracle=None,  # decode backend is a deterministic stub (no codec libs
    # in this environment); plumbing is pinned by tests/test_multimodal.py
    note="Q27 multimodal: binaryFile ingest -> magic-byte sniff (JVM) -> "
    "Arrow-batched decode (stubbed deterministic backend)",
)
def m01_multimodal_decode(spark, sf_dir):
    import os

    from laion_spark.sources.multimodal import decode_images, read_binary

    tune_session(spark)
    d = "/tmp/laion_multimodal_fixture"
    if not os.path.exists(f"{d}/_DONE"):
        os.makedirs(d, exist_ok=True)
        for i in range(8):
            magic = [b"\xff\xd8\xff", b"\x89PNG", b"GIF8"][i % 3]
            with open(f"{d}/img_{i}.bin", "wb") as f:
                f.write(magic + bytes([i]) * (100 + i * 37))
        open(f"{d}/_DONE", "w").write("ok")
    meta = decode_images(read_binary(spark, d, glob="img_*.bin"), decode_backend="fake")
    return meta.withColumn("path", F.element_at(F.split("path", "/"), -1)).orderBy("path")


# =============================================================================
# Q-class batch 2: pivot, cube, subqueries, deterministic statistics,
# regexp, intervals — rounding out the §2.9 relational surface.
# =============================================================================


@query(
    "q21_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'view') AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'error') AS error
    FROM events
    WHERE user_id < 30
    GROUP BY user_id
    ORDER BY user_id
    """,
    note="pivot (wide conditional aggregation) — Spark .pivot() with explicit values (no extra pass)",
)
def q21_pivot(spark, sf_dir):
    e = t(spark, sf_dir, "events").filter("user_id < 30")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
        .orderBy("user_id")
    )


@query(
    "q22_cube_grouping",
    oracle=f"""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INTEGER) AS gid,
           count(*) AS n,
           {_dsum_sql('l_extendedprice')} AS total_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, returnflag, linestatus
    """,
    note="Q10 cube + grouping() metadata",
)
def q22_cube_grouping(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            dsum("l_extendedprice", "total_price"),
            (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")).cast("int").alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "n",
            "total_price",
        )
        .orderBy("gid", "returnflag", "linestatus")
    )


@query(
    "q23_subqueries_sql",
    oracle="""
    SELECT c.c_custkey, c.c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2))
      AND c.c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 1)
    ORDER BY c.c_custkey
    """,
    note="P3 arbitrary-SQL surface: correlated EXISTS + scalar subquery + IN subquery via spark.sql",
)
def q23_subqueries_sql(spark, sf_dir):
    tune_session(spark)
    for name in ("customer", "orders", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_acctbal
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2))
          AND c.c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 1)
        ORDER BY c.c_custkey
        """
    )


@query(
    "q24_stats_deterministic",
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n,
           round({_dsum_sql('l_quantity')} / count(*), 6) AS mean_qty,
           round(({_dsum_sql('l_quantity * l_quantity')}
                  - {_dsum_sql('l_quantity')} * {_dsum_sql('l_quantity')} / count(*))
                 / (count(*) - 1), 6) AS var_qty,
           round(sqrt(({_dsum_sql('l_quantity * l_quantity')}
                  - {_dsum_sql('l_quantity')} * {_dsum_sql('l_quantity')} / count(*))
                 / (count(*) - 1)), 6) AS std_qty,
           round(CAST(min(l_quantity) AS DOUBLE), 6) AS min_qty,
           round(CAST(max(l_quantity) AS DOUBLE), 6) AS max_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    note="aggregate statistics from exact decimal sums (native stddev/var are "
    "merge-order-dependent floats — not oracle-stable; same math, deterministic)",
)
def q24_stats_deterministic(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    s1 = F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
    s2 = F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(18,6)")).cast("double")
    n = F.count("*")
    var = (s2 - s1 * s1 / n) / (n - 1)
    return (
        li.groupBy("l_returnflag")
        .agg(
            n.alias("n"),
            F.round(s1 / n, 6).alias("mean_qty"),
            F.round(var, 6).alias("var_qty"),
            F.round(F.sqrt(var), 6).alias("std_qty"),
            F.round(F.min("l_quantity").cast("double"), 6).alias("min_qty"),
            F.round(F.max("l_quantity").cast("double"), 6).alias("max_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q25_regexp_extract_all",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INTEGER) AS n_vowels,
           coalesce(array_to_string(regexp_extract_all(p_name, '\\b[a-z]{5,}\\b'), ','), '') AS long_words
    FROM part
    WHERE p_partkey % 7 = 0
    ORDER BY p_partkey
    """,
    note="Q17 regexp surface: extract, extract_all, join",
)
def q25_regexp_extract_all(spark, sf_dir):
    p = t(spark, sf_dir, "part").filter("p_partkey % 7 = 0")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        F.size(F.regexp_extract_all("p_name", F.lit("[aeiou]"), 0)).alias("n_vowels"),
        F.array_join(F.regexp_extract_all("p_name", F.lit(r"\b[a-z]{5,}\b"), 0), ",").alias("long_words"),
    ).orderBy("p_partkey")


@query(
    "q26_interval_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS plus_3m,
           CAST(o_orderdate AS DATE) - INTERVAL 45 DAY AS minus_45d,
           CAST(date_diff('month', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS months_since,
           CAST(strftime(o_orderdate, '%w') AS INTEGER) AS dow
    FROM orders
    WHERE o_orderkey % 150 = 0
    ORDER BY o_orderkey
    """,
    note="Q18 interval/date arithmetic: add_months, date_sub, month diff, day-of-week",
)
def q26_interval_arithmetic(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter("o_orderkey % 150 = 0")
    od = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.add_months(od, 3).cast("timestamp").alias("plus_3m"),
        F.date_sub(od, 45).cast("timestamp").alias("minus_45d"),
        ((F.year(od) - 1995) * 12 + F.month(od) - 1).alias("months_since"),
        (F.dayofweek(od) - 1).alias("dow"),
    ).orderBy("o_orderkey")


@query(
    "q27_union_all_dups",
    oracle="""
    SELECT p_brand, count(*) AS n
    FROM (
      SELECT p_brand FROM part WHERE p_size > 40
      UNION ALL
      SELECT p_brand FROM part WHERE p_retailprice > 1500
    )
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    note="Q16 UNION ALL preserves duplicates (vs the distinct set ops in q14)",
)
def q27_union_all_dups(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    u = p.filter("p_size > 40").select("p_brand").unionAll(
        p.filter("p_retailprice > 1500").select("p_brand")
    )
    return u.groupBy("p_brand").agg(F.count("*").alias("n")).orderBy("p_brand")


@query(
    "e05_first_last_window",
    oracle="""
    SELECT user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type,
           CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events,
           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
    FROM events
    WHERE user_id < 10
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
    ORDER BY user_id, ts_us
    """,
    note="Q12 first/last window analytics with explicit frames",
)
def e05_first_last_window(spark, sf_dir):
    e = ev(spark, sf_dir).filter("user_id < 10")
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        e.select(
            "user_id",
            F.first("event_type").over(w).alias("first_type"),
            F.last("event_type").over(wfull).alias("last_type"),
            F.count("*").over(W.partitionBy("user_id")).alias("n_events"),
            "ts_us",
        )
        .orderBy("user_id", "ts_us")
    )


# =============================================================================
# X-class: the reference's bulk ETL (process.py) run end-to-end, plus the
# remaining streaming windows and embedding near-dup — SURVEY.md §2.1/§2.8,
# Q28-Q31, Q25.
# =============================================================================


_ETL_DIR = "/tmp/laion_etl_catalog_fixture"
_ETL_DIM = 16
_ETL_ROWS = (150, 100)  # shard 0 (both matrices), shard 1 (no .npy -> zero-fill)


def _etl_fixture() -> str:
    """Deterministic two-shard LAION-layout fixture (metadata parquet +
    row-aligned .npy matrices, reference process.py:109-114). Every value
    is a closed-form function of (shard, pos), so the DuckDB oracle can
    regenerate the expected output analytically — no file dependency.
    Embedding values are exact multiples of 1/8 (bit-exact in float32
    and in any summation order)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    if os.path.exists(f"{_ETL_DIR}/_DONE"):
        return _ETL_DIR
    for sub in ("metadata", "img_emb", "text_emb"):
        os.makedirs(f"{_ETL_DIR}/{sub}", exist_ok=True)
    for shard, n in enumerate(_ETL_ROWS):
        pos = np.arange(n)
        tbl = pa.table(
            {
                "key": pa.array([f"k{shard}_{p:04d}" for p in pos]),
                "url": pa.array([f"http://x/{shard}/{p}" for p in pos]),
                "caption": pa.array([f"it’s row {p}‘end" for p in pos]),
                "similarity": pa.array(pos / 100.0, type=pa.float64()),
                "width": pa.array(pos, type=pa.int64()),
                "height": pa.array(np.full(n, shard), type=pa.int64()),
                "original_width": pa.array(pos * 2, type=pa.int64()),
                "original_height": pa.array(pos * 3, type=pa.int64()),
                "status": pa.array(["success"] * n),
                "nsfw": pa.array(["UNLIKELY"] * n),
                "exif_json": pa.array(
                    [
                        None if p % 7 == 0 else '{"make": "m%d", "iso": "%d"}' % (p % 5, 100 + p)
                        for p in pos
                    ]
                ),
            }
        )
        pq.write_table(tbl, f"{_ETL_DIR}/metadata/metadata_{shard}.parquet")
        if shard == 0:  # shard 1 has no matrices -> S4 zero-fill path
            j = np.arange(_ETL_DIM)
            img = ((pos[:, None] * 7 + 3 * j[None, :]) % 41 - 20) / 8.0
            txt = ((pos[:, None] * 5 + 11 * j[None, :]) % 37 - 18) / 8.0
            np.save(f"{_ETL_DIR}/img_emb/img_emb_0.npy", img.astype(np.float32))
            np.save(f"{_ETL_DIR}/text_emb/text_emb_0.npy", txt.astype(np.float32))
    open(f"{_ETL_DIR}/_DONE", "w").write("ok")
    return _ETL_DIR


@query(
    "x01_etl_shard_assembly",
    oracle=f"""
    WITH rows AS (
      SELECT 0 AS shard, CAST(i AS BIGINT) AS pos FROM range(0, {_ETL_ROWS[0]}) t(i)
      UNION ALL
      SELECT 1 AS shard, CAST(i AS BIGINT) AS pos FROM range(0, {_ETL_ROWS[1]}) t(i)
    )
    SELECT printf('k%d_%04d', shard, pos) AS key,
           'it s row ' || pos || ' end' AS caption,
           pos AS width,
           shard AS height,
           CASE WHEN pos % 7 = 0 THEN NULL ELSE 'm' || (pos % 5) END AS exif_make,
           CAST(CASE WHEN pos % 7 = 0 THEN 0 ELSE 2 END AS INTEGER) AS n_exif,
           round(CASE WHEN shard = 0 THEN ((pos * 7) % 41 - 20) / 8.0 ELSE 0.0 END, 6) AS img0,
           round(CASE WHEN shard = 0 THEN list_aggregate(list_transform(range(0, {_ETL_DIM}),
                 j -> ((pos * 7 + 3 * j) % 41 - 20) / 8.0), 'sum') ELSE 0.0 END, 6) AS img_sum,
           round(CASE WHEN shard = 0 THEN list_aggregate(list_transform(range(0, {_ETL_DIM}),
                 j -> ((pos * 5 + 11 * j) % 37 - 18) / 8.0), 'sum') ELSE 0.0 END, 6) AS txt_sum,
           round(pos / 100.0, 6) AS similarity
    FROM rows
    ORDER BY key
    """,
    note="S1-S5/S3 positional npy⋈parquet ETL end-to-end (process.py:14-92): "
    "per-shard Arrow assembly in a shuffle-free stage, zero-fill, caption clean (P5), exif "
    "from_json (P6), schema projection (P2); oracle regenerates the expected "
    "table analytically from the fixture's closed-form values",
)
def x01_etl_shard_assembly(spark, sf_dir):
    from laion_spark.sources.npy import etl_shards

    tune_session(spark)
    fact = etl_shards(spark, _etl_fixture(), dim=_ETL_DIM)
    acc = F.lit(0.0)
    return fact.select(
        "key",
        "caption",
        "width",
        "height",
        F.element_at("exif", "make").alias("exif_make"),
        F.size("exif").alias("n_exif"),
        F.round(F.element_at("image_embedding", 1).cast("double"), 6).alias("img0"),
        F.round(F.aggregate("image_embedding", acc, lambda a, x: a + x), 6).alias("img_sum"),
        F.round(F.aggregate("text_embedding", acc, lambda a, x: a + x), 6).alias("txt_sum"),
        F.round("similarity", 6).alias("similarity"),
    ).orderBy("key")


@query(
    "q28_full_outer_join",
    oracle="""
    WITH c AS (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer WHERE c_acctbal > 9000 GROUP BY 1),
         s AS (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier WHERE s_acctbal > 9000 GROUP BY 1)
    SELECT coalesce(c.k, s.k) AS nationkey,
           coalesce(n_cust, 0) AS n_cust,
           coalesce(n_supp, 0) AS n_supp
    FROM c FULL JOIN s ON c.k = s.k
    ORDER BY nationkey
    """,
    note="Q3 full outer join — unmatched rows surviving on both sides",
)
def q28_full_outer_join(spark, sf_dir):
    c = (
        t(spark, sf_dir, "customer")
        .filter("c_acctbal > 9000")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .filter("s_acctbal > 9000")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, "k", "full")
        .select(
            F.col("k").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


_COS_SQL = (
    "list_aggregate(list_transform(range(1, 65), i -> "
    "CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum') / "
    "(sqrt(list_aggregate(list_transform(range(1, 65), i -> "
    "CAST(a.embedding[i] AS DOUBLE) ^ 2), 'sum')) * "
    "sqrt(list_aggregate(list_transform(range(1, 65), i -> "
    "CAST(b.embedding[i] AS DOUBLE) ^ 2), 'sum')))"
)


@query(
    "d06_embedding_cosine_neardup",
    oracle=f"""
    SELECT a.vec_id AS ida, b.vec_id AS idb, round({_COS_SQL}, 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 250 AND b.vec_id < 250 AND round({_COS_SQL}, 6) >= 0.4
    ORDER BY cosine DESC, ida, idb
    """,
    note="Q25 embedding-cosine near-dup, exact verify path: brute-force "
    "pair scores on a bounded block (the correctness anchor for the LSH "
    "candidate path d07, which is the 100 TB plan)",
)
def d06_embedding_cosine_neardup(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings").filter("vec_id < 250").select("vec_id", "embedding")
    a = e.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"))
    cos = F.round(cosine_similarity(F.col("va"), F.col("vb")), 6)
    return (
        a.join(F.broadcast(b), F.col("ida") < F.col("idb"))
        .select("ida", "idb", cos.alias("cosine"))
        .filter("cosine >= 0.4")
        .orderBy(F.desc("cosine"), "ida", "idb")
    )


@query(
    "d07_embedding_neardup_lsh",
    oracle=None,  # LSH candidate generation is recall-bounded, not exact
    # (SURVEY.md hard part #4); recall vs brute force is asserted in
    # tests/test_similarity.py::test_embedding_near_dup_pairs
    note="Q25 embedding near-dup at scale: sign-LSH bucket self-join for "
    "candidates (no quadratic pair stage), exact cosine verify",
)
def d07_embedding_neardup_lsh(spark, sf_dir):
    from laion_spark.operators.similarity import embedding_near_dup_pairs

    e = t(spark, sf_dir, "embeddings").filter("vec_id < 250")
    return embedding_near_dup_pairs(e, "vec_id", "embedding", threshold=0.4, dim=64)


@query(
    "s02_streaming_sliding",
    oracle="""
    SELECT w_start_s, count(*) AS n FROM (
      SELECT unnest([b, b - 1800]) AS w_start_s
      FROM (SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 1800) * 1800 AS b
            FROM events)
    )
    GROUP BY w_start_s
    ORDER BY w_start_s
    """,
    note="Q28 sliding windows (1h window / 30m slide): every event lands in "
    "exactly two slide-aligned windows; streamed via file replay + memory "
    "sink, oracle is the closed-form window assignment",
)
def s02_streaming_sliding(spark, sf_dir):
    from laion_spark.streaming.windows import replay_as_stream, run_to_completion, sliding_counts

    tune_session(spark)
    stream = replay_as_stream(spark, f"{sf_dir}/events.parquet", n_splits=4)
    out = run_to_completion(sliding_counts(stream), "cat_s02_sliding")
    return out.select(
        (F.unix_micros("w_start") / 1_000_000).cast("bigint").alias("w_start_s"), "n"
    ).orderBy("w_start_s")


@query(
    "s03_streaming_session",
    oracle="""
    WITH x AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), flagged AS (
      SELECT user_id, us,
             CASE WHEN coalesce(us - lag(us) OVER (PARTITION BY user_id ORDER BY us),
                                9223372036854775807) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM x
    ), grouped AS (
      SELECT user_id, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           min(us) AS s_start_us,
           max(us) + 1800000000 AS s_end_us,
           count(*) AS n_events
    FROM grouped
    GROUP BY user_id, sid
    ORDER BY user_id, s_start_us
    """,
    note="Q29 session windows (30m gap) as a stream; oracle is the "
    "gaps-and-islands batch formulation (merge while diff <= gap — Spark "
    "merges an event landing exactly on the window end)",
)
def s03_streaming_session(spark, sf_dir):
    from laion_spark.streaming.windows import (
        replay_as_stream,
        run_to_completion,
        sessionized_counts,
    )

    tune_session(spark)
    stream = replay_as_stream(spark, f"{sf_dir}/events.parquet", n_splits=4)
    out = run_to_completion(sessionized_counts(stream), "cat_s03_session")
    return out.select(
        "user_id",
        F.unix_micros("s_start").alias("s_start_us"),
        F.unix_micros("s_end").alias("s_end_us"),
        "n_events",
    ).orderBy("user_id", "s_start_us")


@query(
    "s04_streaming_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 1000000 AS hr_s
    FROM events
    ORDER BY user_id, event_type, hr_s
    """,
    note="Q31 stateful streaming dedup (dropDuplicatesWithinWatermark on "
    "user/type/hour): with event-time-ordered replay every duplicate "
    "arrives inside the watermark, so the surviving key set is exactly "
    "DISTINCT — the batch twin",
)
def s04_streaming_dedup(spark, sf_dir):
    from laion_spark.streaming.windows import replay_as_stream, run_to_completion, streaming_dedup

    tune_session(spark)
    stream = replay_as_stream(spark, f"{sf_dir}/events.parquet", n_splits=4)
    dd = streaming_dedup(
        stream.withColumn("hr", F.date_trunc("hour", "ts_t")),
        ["user_id", "event_type", "hr"],
    )
    out = run_to_completion(dd, "cat_s04_dedup", output_mode="append")
    return out.select(
        "user_id",
        "event_type",
        (F.unix_micros("hr") / 1_000_000).cast("bigint").alias("hr_s"),
    ).orderBy("user_id", "event_type", "hr_s")


@query(
    "s05_streaming_enrich_join",
    oracle=f"""
    SELECT c.c_mktsegment, e.event_type, count(*) AS n,
           {_dsum_sql('e.value')} AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    ORDER BY c.c_mktsegment, e.event_type
    """,
    note="stream-static broadcast-join enrichment: per-micro-batch dimension "
    "lookup (stateless join, no stream state) feeding a running aggregate; "
    "the batch twin is the plain join — at scale the static side stays "
    "broadcast so the stream never shuffles",
)
def s05_streaming_enrich_join(spark, sf_dir):
    from laion_spark.streaming.windows import replay_as_stream, run_to_completion

    tune_session(spark)
    stream = replay_as_stream(spark, f"{sf_dir}/events.parquet", n_splits=4)
    cust = F.broadcast(t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"))
    joined = stream.join(cust, stream.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n"), dsum("value", "total_value")
    )
    out = run_to_completion(agg, "cat_s05_enrich")
    return out.orderBy("c_mktsegment", "event_type")


@query(
    "s06_stateful_user_stats",
    oracle="""
    SELECT user_id, count(*) AS n,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000 AS total
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    note="custom stateful operator (applyInPandasWithState): per-user "
    "GroupState (n, total) maintained across micro-batches, emitted in "
    "update mode; final state per user (max-n update) must equal the "
    "batch aggregate — int64 micro-unit accumulation makes the float "
    "path batching-order-proof",
)
def s06_stateful_user_stats(spark, sf_dir):
    from laion_spark.streaming.windows import (
        latest_update_per_user,
        replay_as_stream,
        run_to_completion,
        stateful_user_stats,
    )

    tune_session(spark)
    stream = replay_as_stream(spark, f"{sf_dir}/events.parquet", n_splits=4)
    updates = run_to_completion(
        stateful_user_stats(stream), "cat_s06_stateful", output_mode="update"
    )
    return latest_update_per_user(updates).orderBy("user_id")


@query(
    "s07_streaming_incremental_mv",
    oracle="""
    SELECT event_type,
           count(value) AS value_count,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value_sum,
           min(value) AS value_min,
           max(value) AS value_max
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    note="ClickHouse MATERIALIZED VIEW -> AggregatingMergeTree parity: "
    "each micro-batch partial-aggregates to mergeable state rows appended "
    "to a parquet state table (epoch-partitioned, idempotent per batch); "
    "merge+finalize over states — never the raw history — must equal the "
    "one-pass aggregate (the oracle)",
)
def s07_streaming_incremental_mv(spark, sf_dir):
    import tempfile

    from laion_spark.operators.aggstate import finalize, merge_states
    from laion_spark.streaming.windows import incremental_mv, replay_as_stream

    tune_session(spark)
    stream = replay_as_stream(spark, f"{sf_dir}/events.parquet", n_splits=4)
    state_path = tempfile.mkdtemp(prefix="laion_mv_") + "/state"
    incremental_mv(stream, state_path, ["event_type"], ["value"], query_name="cat_s07_mv")
    states = spark.read.parquet(state_path).drop("_epoch")
    out = finalize(
        merge_states(states, ["event_type"], ["value"]), ["event_type"], ["value"]
    )
    return out.select(
        "event_type", "value_count", "value_sum", "value_min", "value_max"
    ).orderBy("event_type")


@query(
    "a02_ann_ivf_topk",
    oracle=None,  # approximate by construction, like a01; recall vs
    # brute force asserted in tests/test_similarity.py::test_ivf_recall_and_pruning
    note="ANN via IVF coarse quantizer (SURVEY.md §4.2): deterministic "
    "Lloyd centroids, nprobe-pruned exact rescore — at ingest the table "
    "partitions by cluster id so probes read ~nprobe/C of the bytes",
)
def a02_ann_ivf_topk(spark, sf_dir):
    from laion_spark.operators.similarity import IVFIndex

    emb = t(spark, sf_dir, "embeddings")
    idx = IVFIndex(dim=64, n_clusters=8, n_iters=2, nprobe=3).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    out = idx.search(idx.build(emb, "embedding"), QVEC64, k=10, select=["vec_id"], tiebreak=["vec_id"])
    return out.select("vec_id", F.round("score", 6).alias("score"))


@query(
    "a04_ann_ivf_knn_join",
    oracle=None,  # approximate by construction; recall + exact-score
    # agreement vs knn_join asserted in
    # tests/test_similarity.py::test_ivf_knn_join_parquet_recall
    note="batched ANN join (many queries x huge corpus): driver-side "
    "cluster routing, each probed (file, row_group) split scanned once "
    "scoring all of its cluster's queries in one GEMM — bytes read "
    "bounded by the probed-cluster union regardless of query count; "
    "rows-only check",
)
def a04_ann_ivf_knn_join(spark, sf_dir):
    import tempfile

    from laion_spark.operators.similarity import IVFIndex

    emb = t(spark, sf_dir, "embeddings")
    idx = IVFIndex(dim=64, n_clusters=8, n_iters=2, nprobe=3).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    path = os.path.join(tempfile.gettempdir(), f"laion_a04_ivf_{os.getpid()}")
    idx.write_index(emb, path, "embedding")
    return idx.knn_join_parquet(
        spark, path, emb.filter("vec_id < 5"), k=3, query_id="vec_id",
        query_vec="embedding", corpus_id="vec_id", vector_col="embedding",
    )


@query(
    "q29_approx_count_distinct",
    oracle=None,  # HLL sketches differ across engines by design
    # (SURVEY.md Q9: declared bench-only, never hash-matched); the exact
    # twin q08 is the correctness anchor
    note="Q9 approximate distinct: HLL++ at 1% target error — the "
    "shuffle-free cardinality path for 100 TB profiling",
)
def q29_approx_count_distinct(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.count("*").alias("n"),
    ).orderBy("l_returnflag")


@query(
    "x02_etl_error_ledger",
    oracle="""
    SELECT * FROM (VALUES
      (0, TRUE,  CAST(150 AS BIGINT)),
      (1, TRUE,  CAST(100 AS BIGINT)),
      (2, FALSE, CAST(0 AS BIGINT))
    ) AS t(shard_id, success, rows)
    ORDER BY shard_id
    """,
    note="X3 per-shard error ledger (process.py:87-92, 119-121): a corrupt "
    "shard yields a failure row instead of failing the job; oracle is the "
    "closed-form expected ledger",
)
def x02_etl_error_ledger(spark, sf_dir):
    import os
    import shutil

    from laion_spark.sources.npy import shard_report

    tune_session(spark)
    d = "/tmp/laion_etl_ledger_fixture"
    if not os.path.exists(f"{d}/_DONE"):
        shutil.copytree(_etl_fixture(), d, dirs_exist_ok=True)
        os.remove(f"{d}/_DONE")
        with open(f"{d}/metadata/metadata_2.parquet", "wb") as f:
            f.write(b"not a parquet file")  # X3: must ledger, not crash
        open(f"{d}/_DONE", "w").write("ok")
    rep = shard_report(spark, d, dim=_ETL_DIM)
    return rep.select("shard_id", "success", "rows").orderBy("shard_id")


@query(
    "t06_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')) AS INTEGER) AS n_bpe,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws,
           coalesce(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')[1], '') AS first_piece
    FROM documents
    WHERE doc_id % 4 = 0
    ORDER BY doc_id
    """,
    note="Q26 BPE-style token counting (budget estimation): GPT-2-shape "
    "pretokenizer regex restricted to Java/RE2-identical constructs, "
    "vs whitespace count",
)
def t06_bpe_token_count(spark, sf_dir):
    from laion_spark.functions.text import bpe_token_count, bpe_tokens

    d = t(spark, sf_dir, "documents").filter("doc_id % 4 = 0")
    return d.select(
        "doc_id",
        bpe_token_count("text").alias("n_bpe"),
        F.size(F.split("text", " ")).alias("n_ws"),
        F.coalesce(F.element_at(bpe_tokens("text"), 1), F.lit("")).alias("first_piece"),
    ).orderBy("doc_id")


# =============================================================================
# Composite analytic queries (round 2): multi-join TPC-H shapes, scalar
# subqueries, deterministic sampling, exact quantiles
# =============================================================================


@query(
    "q30_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    note="TPC-H Q3 shape: 3-way join (customer broadcast, lineitem-orders "
    "shuffle on orderkey), filtered both sides, grouped revenue top-N; "
    "revenue is exact-decimal so DESC ordering is engine-identical",
)
def q30_shipping_priority(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01 00:00:00").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(rev, "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.to_date("o_orderdate").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q31_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
    """,
    note="TPC-H Q15 shape: derived revenue view + scalar MAX subquery "
    "(exact-decimal totals make the MAX tie semantics engine-identical)",
)
def q31_top_supplier(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue"))
    )
    best = rev.agg(F.max("total_revenue").alias("m"))
    sup = t(spark, sf_dir, "supplier")
    return (
        sup.join(rev, sup.s_suppkey == rev.l_suppkey)
        .join(F.broadcast(best), F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q32_deterministic_sample",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <= '14'
    ORDER BY o_orderkey
    """,
    note="reproducible ~8% sample via md5-prefix predicate — the "
    "engine-portable alternative to TABLESAMPLE for eval/holdout set "
    "carving on a 100 TB corpus (stable under repartitioning, pushdown-"
    "friendly, no RNG state)",
)
def q32_deterministic_sample(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    pred = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) <= "14"
    return o.filter(pred).select("o_orderkey", "o_totalprice", "o_orderpriority").orderBy("o_orderkey")


@query(
    "q33_quantiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
           round(median(l_quantity), 6) AS med_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    note="exact interpolated quantiles (percentile == quantile_cont, both "
    "linear interpolation over the sorted group); at 100 TB swap for "
    "approx_percentile with a documented error budget",
)
def q33_quantiles(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(l_extendedprice, 0.50)"), 6).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.75)"), 6).alias("p75"),
            F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias("p99"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("med_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q34_clickhouse_sql_compat",
    oracle=f"""
    SELECT vec_id,
           round(sqrt({_L2_EMB}), 6) AS score,
           CAST(year(CAST('2024-03-05' AS TIMESTAMP)) AS INTEGER) AS yr
    FROM embeddings
    ORDER BY score, vec_id
    LIMIT 10
    """,
    note="switch-and-run surface: the reference's generated ClickHouse SQL "
    "(search.py:20-26 L2Distance / toYear names) executes verbatim via the "
    "SQL-UDF compat layer (functions/sqlcompat.py), inlined to JVM "
    "expressions — no Python node in the plan",
)
def q34_clickhouse_sql_compat(spark, sf_dir):
    from laion_spark.functions.sqlcompat import register_clickhouse_sql

    tune_session(spark)
    register_clickhouse_sql(spark)
    t(spark, sf_dir, "embeddings").createOrReplaceTempView("laion_compat")
    qlit = ", ".join(str(x) for x in QVEC64)
    return spark.sql(
        f"""
        SELECT vec_id,
               round(L2Distance(embedding, array({qlit})), 6) AS score,
               toYear(TIMESTAMP '2024-03-05 00:00:00') AS yr
        FROM laion_compat
        ORDER BY score ASC, vec_id
        LIMIT 10
        """
    )


@query(
    "q35_window_distribution",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    ORDER BY c_mktsegment, c_acctbal, c_custkey
    LIMIT 400
    """,
    note="Q11 window surface completion: ntile / percent_rank / cume_dist "
    "over a total-ordered frame (acctbal ties broken by custkey so ranks "
    "are engine-identical)",
)
def q35_window_distribution(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
        .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
        .limit(400)
        .drop("c_acctbal")
    )


@query(
    "q36_correlated_exists",
    oracle="""
    SELECT s.s_suppkey, s.s_name, s.s_acctbal
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49
    )
    AND NOT EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_suppkey = s.s_suppkey AND l2.l_discount > 0.09 AND l2.l_quantity > 48
    )
    ORDER BY s.s_suppkey
    """,
    note="correlated EXISTS / NOT EXISTS (Catalyst rewrites to left-semi + "
    "left-anti joins — the de-correlation the reference delegates to "
    "ClickHouse's planner), via spark.sql on registered views",
)
def q36_correlated_exists(spark, sf_dir):
    tune_session(spark)
    t(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT s.s_suppkey, s.s_name, s.s_acctbal
        FROM v_supplier s
        WHERE EXISTS (
          SELECT 1 FROM v_lineitem l
          WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49
        )
        AND NOT EXISTS (
          SELECT 1 FROM v_lineitem l2
          WHERE l2.l_suppkey = s.s_suppkey AND l2.l_discount > 0.09 AND l2.l_quantity > 48
        )
        ORDER BY s.s_suppkey
        """
    )


@query(
    "d08_dedup_components",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents WHERE doc_id < 100
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT da, db
      FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.4
    ), edges AS (
      SELECT da AS a, db AS b FROM pairs UNION ALL SELECT db, da FROM pairs
    ), reach AS (
      SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS id, min(b) AS comp FROM reach GROUP BY a ORDER BY a
    """,
    note="near-dup pairs -> dedup clusters via min-label-propagation "
    "connected components (the 'keep one per group' step after candidate "
    "pairs); oracle is a WITH RECURSIVE transitive closure — the iterative "
    "Spark fixpoint and the recursive SQL must agree exactly",
)
def d08_dedup_components(spark, sf_dir):
    from laion_spark.operators.dedup import connected_components, jaccard_similar_pairs

    d = t(spark, sf_dir, "documents").filter("doc_id < 100")
    pairs = jaccard_similar_pairs(d, id_col="doc_id", text_col="text", ngram=1, threshold=0.4)
    return connected_components(pairs, "da", "db")


_FUNNEL_W_US = 3_600_000_000  # 1 hour


@query(
    "e06_window_funnel",
    oracle=f"""
    WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type
               FROM events),
    l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
    l2 AS (SELECT DISTINCT v.user_id
           FROM e v JOIN e c ON c.user_id = v.user_id
            AND v.event_type = 'view' AND c.event_type = 'click'
            AND c.t > v.t AND c.t - v.t <= {_FUNNEL_W_US}),
    l3 AS (SELECT DISTINCT v.user_id
           FROM e v
           JOIN e c ON c.user_id = v.user_id AND v.event_type = 'view'
            AND c.event_type = 'click' AND c.t > v.t AND c.t - v.t <= {_FUNNEL_W_US}
           JOIN e p ON p.user_id = v.user_id AND p.event_type = 'purchase'
            AND p.t > c.t AND p.t - v.t <= {_FUNNEL_W_US})
    SELECT u.user_id,
           CASE WHEN l3.user_id IS NOT NULL THEN 3
                WHEN l2.user_id IS NOT NULL THEN 2
                WHEN l1.user_id IS NOT NULL THEN 1
                ELSE 0 END AS level
    FROM (SELECT DISTINCT user_id FROM e
          WHERE event_type IN ('view', 'click', 'purchase')) u
    LEFT JOIN l1 ON u.user_id = l1.user_id
    LEFT JOIN l2 ON u.user_id = l2.user_id
    LEFT JOIN l3 ON u.user_id = l3.user_id
    ORDER BY u.user_id
    """,
    note="ClickHouse windowFunnel parity: max ordered view->click->purchase "
    "chain depth within 1h of the chain start, per user — one shuffle + a "
    "single HOF fold with O(steps) state; the oracle is the existential "
    "join formulation, which the latest-viable-chain-start fold provably "
    "equals",
)
def e06_window_funnel(spark, sf_dir):
    from laion_spark.operators.funnel import window_funnel

    return window_funnel(
        ev(spark, sf_dir), ["view", "click", "purchase"], _FUNNEL_W_US
    ).orderBy("user_id")


@query(
    "e07_retention",
    oracle="""
    WITH f AS (
      SELECT user_id,
             max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-01' THEN 1 ELSE 0 END) AS f1,
             max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-02' THEN 1 ELSE 0 END) AS f2,
             max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-08' THEN 1 ELSE 0 END) AS f3
      FROM events GROUP BY user_id
    )
    SELECT user_id, f1 AS r1, f1 * f2 AS r2, f1 * f3 AS r3
    FROM f ORDER BY user_id
    """,
    note="ClickHouse retention parity: day-0 / next-day / next-week cohort "
    "flags per user, conditional aggregates over one shuffle",
)
def e07_retention(spark, sf_dir):
    from laion_spark.operators.funnel import retention

    d = F.to_date("ts_t")
    return retention(
        ev(spark, sf_dir),
        [d == F.lit("2024-01-01"), d == F.lit("2024-01-02"), d == F.lit("2024-01-08")],
    ).orderBy("user_id")


def _lineitem_shards(spark, sf_dir):
    """Two disjoint 'arrival shards' of lineitem (orderkey parity) —
    the incremental-MV scenario: day-1 data and day-2 data aggregated
    independently, merged without rescanning."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter("l_orderkey % 2 = 0"), li.filter("l_orderkey % 2 = 1")


@query(
    "q38_incremental_agg_merge",
    oracle="""
    SELECT l_returnflag,
           count(l_quantity) AS l_quantity_count,
           CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS l_quantity_sum,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                 / count(l_quantity), 6) AS l_quantity_avg,
           min(l_quantity) AS l_quantity_min,
           max(l_quantity) AS l_quantity_max,
           count(l_extendedprice) AS l_extendedprice_count,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS l_extendedprice_sum,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
                 / count(l_extendedprice), 6) AS l_extendedprice_avg,
           min(l_extendedprice) AS l_extendedprice_min,
           max(l_extendedprice) AS l_extendedprice_max
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    note="ClickHouse -State/-Merge + AggregatingMergeTree parity: lineitem "
    "split into two arrival shards, each partial-aggregated to a mergeable "
    "state row (count/sum/min/max, DECIMAL-exact sums), states merged and "
    "finalized WITHOUT rescanning raw rows — must equal the one-pass "
    "aggregate over everything (the oracle)",
)
def q38_incremental_agg_merge(spark, sf_dir):
    from laion_spark.operators.aggstate import agg_state, finalize, merge_states

    measures = ["l_quantity", "l_extendedprice"]
    s1, s2 = _lineitem_shards(spark, sf_dir)
    st1 = agg_state(s1, ["l_returnflag"], measures)
    st2 = agg_state(s2, ["l_returnflag"], measures)
    merged = merge_states(st1.unionAll(st2), ["l_returnflag"], measures)
    out = finalize(merged, ["l_returnflag"], measures)
    return out.select(
        "l_returnflag",
        *[
            F.round(c, 6).alias(c) if c.endswith("_avg") else F.col(c)
            for m in measures
            for c in (f"{m}_count", f"{m}_sum", f"{m}_avg", f"{m}_min", f"{m}_max")
        ],
    ).orderBy("l_returnflag")


@query(
    "a03_sketch_state_merge",
    oracle=None,  # Datasketches HLL estimates have no DuckDB twin; the
    # stronger property — merge-of-partial-sketches == single-pass sketch,
    # EXACTLY, plus estimate-vs-exact tolerance — is asserted in
    # tests/test_aggstate.py
    note="ClickHouse uniqCombinedState/-Merge parity: per-shard HLL "
    "sketches of events.user_id unioned into per-event_type estimates — "
    "sketch states are ordinary binary columns, persistable as parquet "
    "(the AggregatingMergeTree distinct-count story)",
)
def a03_sketch_state_merge(spark, sf_dir):
    from laion_spark.operators.aggstate import agg_state, finalize, merge_states

    e = t(spark, sf_dir, "events")
    s1, s2 = e.filter("event_id % 2 = 0"), e.filter("event_id % 2 = 1")
    st1 = agg_state(s1, ["event_type"], [], distinct_cols=["user_id"])
    st2 = agg_state(s2, ["event_type"], [], distinct_cols=["user_id"])
    merged = merge_states(st1.unionAll(st2), ["event_type"], [], distinct_cols=["user_id"])
    return (
        finalize(merged, ["event_type"], [], distinct_cols=["user_id"])
        .select("event_type", F.col("user_id_uniq").cast("bigint").alias("uniq_users"))
        .orderBy("event_type")
    )


@query(
    "q39_weighted_median",
    oracle="""
    SELECT f AS l_returnflag, round(min(v), 6) AS l_extendedprice_wq
    FROM (
      SELECT f, v,
             sum(w) OVER (PARTITION BY f ORDER BY v) AS cum,
             sum(w) OVER (PARTITION BY f) AS tot
      FROM (SELECT l_returnflag AS f, l_extendedprice AS v,
                   sum(CAST(l_quantity AS BIGINT)) AS w
            FROM lineitem GROUP BY 1, 2)
    )
    WHERE 2 * cum >= tot
    GROUP BY f
    ORDER BY f
    """,
    note="ClickHouse quantileExactWeighted parity: quantity-weighted "
    "median price per returnflag — integer-rational threshold compare "
    "(2*cum >= tot, long weights) so no float boundary can split the "
    "engines; duplicate values pre-collapsed so RANGE-frame peer "
    "semantics can't differ",
)
def q39_weighted_median(spark, sf_dir):
    from laion_spark.operators.grouped import weighted_quantile

    li = t(spark, sf_dir, "lineitem")
    out = weighted_quantile(li, ["l_returnflag"], "l_extendedprice", "l_quantity")
    return out.select(
        "l_returnflag", F.round("l_extendedprice_wq", 6).alias("l_extendedprice_wq")
    ).orderBy("l_returnflag")


@query(
    "t07_topk_approx",
    oracle="""
    SELECT token AS item, count(*) AS n, 0 AS err
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, item
    LIMIT 20
    """,
    note="ClickHouse topK parity (SpaceSaving): per-partition bounded "
    "sketch via mapInPandas, counter-only shuffle, k-row TakeOrdered; "
    "capacity >= vocabulary here so no eviction occurs and the sketch is "
    "provably exact — the oracle checks that regime; the approximate "
    "regime (small capacity, zipf skew) is pinned in tests/test_topk.py",
)
def t07_topk_approx(spark, sf_dir):
    from laion_spark.operators.topk import topk_approx

    d = t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    return topk_approx(toks, "token", k=20, capacity=4096)


@query(
    "e09_gap_fill",
    oracle="""
    WITH grid AS (
      SELECT gs AS h FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                          TIMESTAMP '2024-01-03 23:00:00',
                                          INTERVAL 1 HOUR) t(gs)
    ), c AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, count(*) AS n
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    )
    SELECT epoch_us(grid.h) // 1000000 AS h_s, coalesce(c.n, 0) AS n
    FROM grid LEFT JOIN c ON grid.h = c.h
    ORDER BY h_s
    """,
    note="ClickHouse ORDER BY ... WITH FILL parity: dense hourly grid "
    "(sequence + explode — generated, not scanned) left-joined to sparse "
    "hourly purchase counts, gaps zero-filled; at scale the grid side is "
    "tiny and broadcast, the fact side aggregates before the join",
)
def e09_gap_fill(spark, sf_dir):
    counts = (
        ev(spark, sf_dir)
        .filter("event_type = 'purchase'")
        .withColumn("h", F.date_trunc("hour", "ts_t"))
        .groupBy("h")
        .agg(F.count("*").alias("n"))
    )
    grid = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01 00:00:00").cast("timestamp"),
                F.lit("2024-01-03 23:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("h")
    )
    return (
        grid.join(counts, "h", "left")
        .select(
            (F.unix_micros("h") / 1_000_000).cast("bigint").alias("h_s"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
        .orderBy("h_s")
    )


@query(
    "e10_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) AS ts_us,
           v.event_id AS event_id_asof,
           round(v.value, 6) AS value_asof
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND epoch_us(CAST(p.ts AS TIMESTAMP)) > epoch_us(CAST(v.ts AS TIMESTAMP))
    ORDER BY p.event_id
    """,
    note="ClickHouse ASOF JOIN parity (two-stream trade/quote matching): "
    "each purchase picks the latest STRICTLY-prior view per user via the "
    "union+window trick — no range-join blowup, one shuffle on the key; "
    "the oracle is DuckDB's native ASOF LEFT JOIN",
)
def e10_asof_join(spark, sf_dir):
    from laion_spark.operators.asof import asof_join

    e = ev(spark, sf_dir)
    p = e.filter("event_type = 'purchase'").select("event_id", "user_id", "ts_us")
    v = e.filter("event_type = 'view'").select("event_id", "user_id", "ts_us", "value")
    out = asof_join(p, v, on="user_id", right_cols=["event_id", "value"])
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        "event_id_asof",
        F.round("value_asof", 6).alias("value_asof"),
    ).orderBy("event_id")


@query(
    "e08_sequence_match",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type
               FROM events),
    hit AS (SELECT DISTINCT s.user_id
            FROM e s JOIN e c ON c.user_id = s.user_id
             AND s.event_type = 'signup' AND c.event_type = 'click'
             AND c.t > s.t
            JOIN e p ON p.user_id = s.user_id AND p.event_type = 'purchase'
             AND p.t > c.t)
    SELECT u.user_id,
           CASE WHEN hit.user_id IS NOT NULL THEN 1 ELSE 0 END AS matched
    FROM (SELECT DISTINCT user_id FROM e
          WHERE event_type IN ('signup', 'click', 'purchase')) u
    LEFT JOIN hit ON u.user_id = hit.user_id
    ORDER BY u.user_id
    """,
    note="ClickHouse sequenceMatch('(?1).*(?2).*(?3)') parity: ordered "
    "signup->click->purchase occurrence per user, no window bound — same "
    "O(steps)-state fold as windowFunnel with an unbounded window; oracle "
    "is the existential ordered-join formulation",
)
def e08_sequence_match(spark, sf_dir):
    from laion_spark.operators.funnel import sequence_match

    return sequence_match(
        ev(spark, sf_dir), ["signup", "click", "purchase"]
    ).orderBy("user_id")


@query(
    "q37_argmax_grouparray",
    oracle="""
    SELECT event_type,
           arg_max(user_id, CAST(round(value * 100) AS BIGINT) * 1000000 + user_id) AS top_user,
           arg_min(user_id, CAST(round(value * 100) AS BIGINT) * 1000000 + user_id) AS bottom_user,
           round(max(value), 6) AS max_value,
           coalesce(array_to_string(list_sort(list(DISTINCT user_id) FILTER (WHERE value > 450)),
                    ','), '') AS big_spenders
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    note="ClickHouse argMax/argMin/groupArray parity: deterministic arg "
    "extremes via a composite integer key (value ties broken by user_id — "
    "bare max_by/arg_max is tie-nondeterministic across engines) and a "
    "sorted distinct-collect; Spark max_by/min_by/collect_set are the "
    "direct analogs. The collect is emitted comma-joined: array-typed "
    "result columns crash hash-canonicalizing comparators (the v09 "
    "lesson — pandas cannot sort ndarray cells), and integer-to-string "
    "is engine-stable where double-to-string is not",
)
def q37_argmax_grouparray(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    key = F.round(F.col("value") * 100, 0).cast("long") * 1_000_000 + F.col("user_id")
    spenders = F.array_sort(
        F.collect_set(F.when(F.col("value") > 450, F.col("user_id")))
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.max_by("user_id", key).alias("top_user"),
            F.min_by("user_id", key).alias("bottom_user"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.array_join(
                F.transform(spenders, lambda x: x.cast("string")), ","
            ).alias("big_spenders"),
        )
        .orderBy("event_type")
    )


# =============================================================================
# Round-2 continuation: LIMIT BY / dictGet / sequenceCount / INTERPOLATE /
# URL functions / histogram / TPC-H Q5 composite (SURVEY §2.10 R13-R17)
# =============================================================================


@query(
    "q40_limit_by",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 6) AS o_totalprice
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 2
    ORDER BY o_custkey, o_orderkey
    """,
    note="ClickHouse LIMIT n BY expr parity: top-2 orders per customer by "
    "price (orderkey tie-break) — one shuffle on the BY key, row_number "
    "window eligible for WindowGroupLimit pushdown",
)
def q40_limit_by(spark, sf_dir):
    from laion_spark.operators.relational import limit_by

    o = t(spark, sf_dir, "orders")
    out = limit_by(
        o, ["o_custkey"], 2, [F.desc("o_totalprice"), F.asc("o_orderkey")]
    )
    return out.select(
        "o_custkey", "o_orderkey", F.round("o_totalprice", 6).alias("o_totalprice")
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "q41_dict_get",
    oracle="""
    SELECT c.c_custkey, c.c_nationkey,
           coalesce(n.n_name, 'UNKNOWN') AS nation_name
    FROM customer c
    LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 20) n
      ON c.c_nationkey = n.n_nationkey
    ORDER BY c.c_custkey
    """,
    note="ClickHouse dictGetOrDefault parity: per-row attribute lookup "
    "from a RAM-resident dictionary -> broadcast left join with a declared "
    "default for misses (dictionary deliberately missing keys 20-24); the "
    "fact side never shuffles",
)
def q41_dict_get(spark, sf_dir):
    from laion_spark.operators.relational import dict_get

    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = t(spark, sf_dir, "nation").filter("n_nationkey < 20")
    out = dict_get(
        cust,
        nat,
        key="c_nationkey",
        dict_key="n_nationkey",
        attrs={"n_name": "nation_name"},
        defaults={"nation_name": "UNKNOWN"},
    )
    return out.orderBy("c_custkey")


@query(
    "e11_sequence_count",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                                         CASE event_type WHEN 'view' THEN 1
                                              WHEN 'click' THEN 2
                                              WHEN 'purchase' THEN 3 END) AS idx,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                             WHEN 'purchase' THEN 3 END AS step
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ), fold AS (
      SELECT user_id, 0 AS idx, 0 AS lv, CAST(-1 AS BIGINT) AS lt, 0 AS c
      FROM (SELECT DISTINCT user_id FROM e)
      UNION ALL
      SELECT f.user_id, f.idx + 1,
             CASE WHEN ev.step = f.lv + 1 AND (f.lv = 0 OR ev.t > f.lt)
                  THEN CASE WHEN f.lv + 1 = 3 THEN 0 ELSE f.lv + 1 END
                  ELSE f.lv END,
             CASE WHEN ev.step = f.lv + 1 AND (f.lv = 0 OR ev.t > f.lt)
                  THEN ev.t ELSE f.lt END,
             CASE WHEN ev.step = f.lv + 1 AND (f.lv = 0 OR ev.t > f.lt)
                       AND f.lv + 1 = 3
                  THEN f.c + 1 ELSE f.c END
      FROM fold f JOIN e ev ON ev.user_id = f.user_id AND ev.idx = f.idx + 1
    )
    SELECT user_id, c AS n_matches
    FROM (SELECT user_id, c,
                 row_number() OVER (PARTITION BY user_id ORDER BY idx DESC) AS rn
          FROM fold)
    WHERE rn = 1
    ORDER BY user_id
    """,
    note="ClickHouse sequenceCount parity: greedy non-overlapping "
    "view->click->purchase chains per user (restart after each complete "
    "match). Spark side is the O(1)-state HOF fold; the oracle replays "
    "the same automaton spec as a DuckDB recursive-CTE iteration — two "
    "independent implementations of one written spec. (A list_reduce "
    "oracle was rejected: DuckDB 1.0 returns wrong accumulators when the "
    "lambda runs vectorized over multiple rows)",
)
def e11_sequence_count(spark, sf_dir):
    from laion_spark.operators.funnel import sequence_count

    return sequence_count(
        ev(spark, sf_dir), ["view", "click", "purchase"]
    ).orderBy("user_id")


@query(
    "e12_gap_fill_interpolate",
    oracle="""
    WITH grid AS (
      SELECT gs AS h FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                          TIMESTAMP '2024-01-03 23:00:00',
                                          INTERVAL 1 HOUR) t(gs)
    ), c AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*), 6) AS v
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    )
    SELECT epoch_us(grid.h) // 1000000 AS h_s,
           coalesce(last_value(c.v IGNORE NULLS)
                      OVER (ORDER BY grid.h
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    0.0) AS v_fill
    FROM grid LEFT JOIN c ON grid.h = c.h
    ORDER BY h_s
    """,
    note="ClickHouse WITH FILL ... INTERPOLATE (carry-forward) parity: "
    "dense hourly grid, gaps take the last observed hourly avg purchase "
    "value (0.0 before the first observation). Values are rounded BEFORE "
    "the fill so both engines carry identical doubles; the grid is "
    "generated (never scanned) and the single-partition window only ever "
    "sees grid-sized data",
)
def e12_gap_fill_interpolate(spark, sf_dir):
    vals = (
        ev(spark, sf_dir)
        .filter("event_type = 'purchase'")
        .withColumn("h", F.date_trunc("hour", "ts_t"))
        .groupBy("h")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("v")
        )
    )
    grid = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01 00:00:00").cast("timestamp"),
                F.lit("2024-01-03 23:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("h")
    )
    w = W.orderBy("h").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        grid.join(vals, "h", "left")
        .select(
            (F.unix_micros("h") / 1_000_000).cast("bigint").alias("h_s"),
            F.coalesce(F.last("v", ignorenulls=True).over(w), F.lit(0.0)).alias(
                "v_fill"
            ),
        )
        .orderBy("h_s")
    )


@query(
    "q42_url_functions",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || doc_id
               || '?lang=' || lang || '&len=' || n_chars AS url
      FROM documents
    )
    SELECT doc_id, url,
           regexp_extract(url, '^([a-z0-9+.-]+)://', 1) AS protocol,
           regexp_extract(url, '^[a-z0-9+.-]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z0-9+.-]+://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
           regexp_extract(regexp_extract(url, '^[a-z0-9+.-]+://([^/?#]+)', 1),
                          '\\.([a-z]+)$', 1) AS tld
    FROM u
    ORDER BY doc_id
    """,
    note="ClickHouse URL function family (protocol/domain/path/"
    "extractURLParameter/topLevelDomain) parity: URLs synthesized "
    "identically in both engines from documents columns, then parsed by "
    "Spark's JVM parse_url builtin vs an independent regexp decomposition "
    "in the oracle — pure codegen'd expressions, no UDFs",
)
def q42_url_functions(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&len="),
        F.col("n_chars").cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("PROTOCOL")).alias("protocol"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.regexp_extract(
            F.parse_url("url", F.lit("HOST")), r"\.([a-z]+)$", 1
        ).alias("tld"),
    ).orderBy("doc_id")


@query(
    "q43_histogram",
    oracle="""
    SELECT bucket, bucket * 5000.0 AS lo, (bucket + 1) * 5000.0 AS hi, n
    FROM (
      SELECT CAST(least(greatest(floor(l_extendedprice / 5000.0), 0), 21)
                  AS INT) AS bucket,
             count(*) AS n
      FROM lineitem GROUP BY 1
    )
    ORDER BY bucket
    """,
    note="Deterministic histogram twin of ClickHouse histogram(N)(x): "
    "fixed-width buckets over [0, 110000) in 22 bins (adaptive bin edges "
    "are estimation-order-dependent and can never hash-match across "
    "engines — same declaration as Q9's approx_count_distinct); one "
    "shuffle of (bucket, partial count) pairs only",
)
def q43_histogram(spark, sf_dir):
    from laion_spark.operators.relational import histogram_fixed

    li = t(spark, sf_dir, "lineitem")
    return histogram_fixed(li, "l_extendedprice", 0.0, 110000.0, 22).orderBy(
        "bucket"
    )


@query(
    "q44_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
    note="TPC-H Q5 composite shape: 6-table join with the local-supplier "
    "correlation (c_nationkey = s_nationkey). Date filter pushed to the "
    "orders scan; nation/region broadcast (never shuffled); the big "
    "lineitem⋈orders join shuffles on orderkey once — the canonical "
    "100 TB plan",
)
def q44_local_supplier_volume(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter("r_name = 'ASIA'")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(rev, "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "q45_bit_aggregates",
    oracle="""
    SELECT o_orderpriority,
           bit_and(o_orderkey) AS key_and,
           bit_or(o_orderkey) AS key_or,
           bit_xor(o_orderkey) AS key_xor,
           count(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    note="ClickHouse groupBitAnd/groupBitOr/groupBitXor parity: bitwise "
    "aggregate fold over int64 keys — associative + commutative, so "
    "partial aggregation and any partition order give identical bits",
)
def q45_bit_aggregates(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.bit_and("o_orderkey").alias("key_and"),
            F.bit_or("o_orderkey").alias("key_or"),
            F.bit_xor("o_orderkey").alias("key_xor"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q46_moments_regression",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx2,
             CAST(sum(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx3,
             CAST(sum(CAST(l_quantity * l_quantity * l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx4,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round(sx / n, 6) AS mean_qty,
           round(sx2 / n - (sx / n) ^ 2, 6) AS var_pop,
           round((sx3 / n - 3 * (sx / n) * (sx2 / n) + 2 * (sx / n) ^ 3)
                 / ((sx2 / n - (sx / n) ^ 2) ^ 1.5), 6) AS skew_pop,
           round((sxy / n - (sx / n) * (sy / n)), 6) AS covar_pop,
           round((sxy - sx * sy / n) / (sx2 - sx * sx / n), 6) AS slope
    FROM s
    ORDER BY l_returnflag
    """,
    note="ClickHouse skewPop/varPop/covarPop/simpleLinearRegression "
    "parity, computed the way ClickHouse computes them: exact power "
    "sums (l_quantity is integer-valued and l_extendedprice has 2 dp, "
    "so every power/product is exact in both double and DECIMAL(38,6) "
    "— no rounding tie can occur), moments derived in float from the "
    "identical exact sums. Single partial+final aggregate, no second "
    "pass (vs the naive mean-then-deviations two-scan)",
)
def q46_moments_regression(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")

    def esum(col, alias):
        return F.sum(col.cast("decimal(38,6)")).cast("double").alias(alias)

    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        esum(x, "sx"),
        esum(x * x, "sx2"),
        esum(x * x * x, "sx3"),
        esum(x * x * x * x, "sx4"),
        esum(y, "sy"),
        esum(x * y, "sxy"),
    )
    n, sx, sx2, sx3 = F.col("n"), F.col("sx"), F.col("sx2"), F.col("sx3")
    sy, sxy = F.col("sy"), F.col("sxy")
    mean = sx / n
    var = sx2 / n - mean * mean
    skew = (sx3 / n - 3 * mean * (sx2 / n) + 2 * mean * mean * mean) / F.pow(var, 1.5)
    covar = sxy / n - mean * (sy / n)
    slope = (sxy - sx * sy / n) / (sx2 - sx * sx / n)
    return s.select(
        "l_returnflag",
        F.round(mean, 6).alias("mean_qty"),
        F.round(var, 6).alias("var_pop"),
        F.round(skew, 6).alias("skew_pop"),
        F.round(covar, 6).alias("covar_pop"),
        F.round(slope, 6).alias("slope"),
    ).orderBy("l_returnflag")


@query(
    "q47_summap",
    oracle="""
    SELECT user_id, event_type,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    note="ClickHouse sumMap parity: each row contributes a single-entry "
    "map {event_type: value}; sum_map unions keys per user with exact "
    "key-wise sums and re-assembles a map column (explode -> narrow "
    "(group,key) shuffle -> map_from_entries — never a whole-map "
    "shuffle). The entry explodes the result map back to rows so the "
    "oracle compares scalar cells",
)
def q47_summap(spark, sf_dir):
    from laion_spark.operators.relational import sum_map

    e = t(spark, sf_dir, "events").select(
        "user_id", F.create_map(F.col("event_type"), F.col("value")).alias("m")
    )
    out = sum_map(e, ["user_id"], "m")
    return (
        out.select("user_id", F.explode("m").alias("event_type", "total"))
        .select("user_id", "event_type", F.round("total", 6).alias("total"))
        .orderBy("user_id", "event_type")
    )


@query(
    "e13_max_intersections",
    oracle="""
    WITH pts AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS pt, 1 AS delta
      FROM events
      UNION ALL
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(round(value * 1000) AS BIGINT) AS pt,
             -1 AS delta
      FROM events
    ), sweep AS (
      SELECT event_type,
             sum(delta) OVER (PARTITION BY event_type ORDER BY pt, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS open
      FROM pts
    )
    SELECT event_type, CAST(max(open) AS INT) AS max_intersections
    FROM sweep
    GROUP BY event_type
    ORDER BY event_type
    """,
    note="ClickHouse maxIntersections parity: peak number of "
    "concurrently-open half-open intervals [ts, ts + value ms) per "
    "event type — +1/-1 sweep with ends-before-starts tie order, one "
    "shuffle, running max invariant under tied same-sign permutations",
)
def e13_max_intersections(spark, sf_dir):
    from laion_spark.operators.funnel import max_intersections

    e = ev(spark, sf_dir).select(
        "event_type",
        F.col("ts_us").alias("start_us"),
        (F.col("ts_us") + F.round(F.col("value") * 1000, 0).cast("long")).alias(
            "end_us"
        ),
    )
    return max_intersections(e, "start_us", "end_us", by=["event_type"]).orderBy(
        "event_type"
    )


@query(
    "s08_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND epoch_us(CAST(v.ts AS TIMESTAMP)) < epoch_us(CAST(p.ts AS TIMESTAMP))
     AND epoch_us(CAST(v.ts AS TIMESTAMP))
         >= epoch_us(CAST(p.ts AS TIMESTAMP)) - 3600000000
    ORDER BY purchase_id, view_id
    """,
    note="stream-stream watermarked interval join (attribution shape): "
    "purchases pair with same-user views strictly before them within "
    "1 hour; both sides watermarked so join state is bounded by "
    "watermark+window time, not stream length. Inner-join matches emit "
    "eagerly, so the finite replay's append output is the complete pair "
    "set — the SQL oracle is the equivalent batch range join",
)
def s08_stream_stream_join(spark, sf_dir):
    from laion_spark.streaming.windows import (
        interval_pair_join,
        replay_as_stream,
        run_to_completion,
    )

    tune_session(spark)
    stream = replay_as_stream(spark, f"{sf_dir}/events.parquet", n_splits=4)
    p = stream.filter("event_type = 'purchase'")
    v = stream.filter("event_type = 'view'")
    pairs = interval_pair_join(p, v, window="1 hour", watermark="2 hours")
    out = run_to_completion(pairs, "cat_s08_ssj", output_mode="append")
    return out.select(
        F.col("left_id").alias("purchase_id"), F.col("right_id").alias("view_id")
    ).orderBy("purchase_id", "view_id")


@query(
    "q48_array_cumulative",
    oracle="""
    SELECT vec_id, i AS pos,
           round(list_aggregate((CAST(embedding AS DOUBLE[]))[1:i], 'sum'), 6) AS cum,
           CASE WHEN i = 1 THEN 0.0
                ELSE round(CAST(embedding[i] AS DOUBLE)
                           - CAST(embedding[i-1] AS DOUBLE), 6) END AS diff
    FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i)
    WHERE vec_id % 20 = 0
    ORDER BY vec_id, pos
    """,
    note="ClickHouse arrayCumSum/arrayDifference parity over the first 8 "
    "embedding dims: pure HOF expressions (transform over an index "
    "sequence + left-to-right slice folds — IEEE-identical order in both "
    "engines), codegen'd, zero Python; O(d^2) per row on a constant d. "
    "Output exploded to (vec_id, pos, cum, diff) scalar rows — "
    "array-typed result columns crash hash-canonicalizing comparators "
    "(the v09 lesson)",
)
def q48_array_cumulative(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings").filter("vec_id % 20 = 0")
    a = F.expr("transform(slice(embedding, 1, 8), x -> CAST(x AS DOUBLE))")
    cum = F.expr(
        "transform(sequence(1, 8), i -> "
        "round(aggregate(slice(_a, 1, i), CAST(0.0 AS DOUBLE), (s, x) -> s + x), 6))"
    )
    diff = F.expr(
        "transform(sequence(1, 8), i -> "
        "IF(i = 1, CAST(0.0 AS DOUBLE), round(element_at(_a, i) - element_at(_a, i - 1), 6)))"
    )
    return (
        e.select("vec_id", a.alias("_a"))
        .select("vec_id", F.posexplode(F.arrays_zip(cum.alias("cum"), diff.alias("diff"))).alias("pos0", "z"))
        .select(
            "vec_id",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            F.col("z.cum").alias("cum"),
            F.col("z.diff").alias("diff"),
        )
        .orderBy("vec_id", "pos")
    )


@query(
    "e14_delta_sum",
    oracle="""
    SELECT user_id,
           CAST(sum(CAST(round(d, 6) AS DECIMAL(18,6))) FILTER (WHERE d > 0)
                AS DOUBLE) AS delta_sum
    FROM (
      SELECT user_id,
             value - lag(value) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                                               event_id) AS d
      FROM events
    )
    GROUP BY user_id
    ORDER BY user_id
    """,
    note="ClickHouse deltaSum parity: per user in event-time order, sum "
    "of positive value increments (first row contributes nothing, "
    "negative deltas ignored). Raw-double lag diffs are IEEE-identical "
    "across engines; each positive diff is rounded to 6 dp (HALF_UP in "
    "both) and summed exactly in DECIMAL so partition order can't move "
    "a rounding boundary. One shuffle on user_id",
)
def e14_delta_sum(spark, sf_dir):
    e = ev(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    d = F.col("value") - F.lag("value").over(w)
    return (
        e.select("user_id", d.alias("d"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("d") > 0, F.round("d", 6).cast("decimal(18,6)"))
            )
            .cast("double")
            .alias("delta_sum")
        )
        .orderBy("user_id")
    )


@query(
    "q49_with_totals",
    oracle="""
    SELECT coalesce(event_type, 'TOTALS') AS event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), ())
    ORDER BY event_type
    """,
    note="ClickHouse GROUP BY ... WITH TOTALS parity: the per-group rows "
    "plus one grand-total row from a single scan via GROUPING SETS — "
    "Spark expands the set in the partial aggregate, so totals cost no "
    "second pass",
)
def q49_with_totals(spark, sf_dir):
    t(spark, sf_dir, "events").createOrReplaceTempView("cat_q49_events")
    return spark.sql(
        """
        SELECT coalesce(event_type, 'TOTALS') AS event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM cat_q49_events
        GROUP BY GROUPING SETS ((event_type), ())
        ORDER BY event_type
        """
    )


@query(
    "e15_interval_length_sum",
    oracle="""
    WITH pts AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS pt, 1 AS delta
      FROM events
      UNION ALL
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(round(value * 1000) AS BIGINT) AS pt,
             -1 AS delta
      FROM events
    ), sweep AS (
      SELECT event_type,
             sum(delta) OVER w - delta > 0 AS open_before,
             pt - lag(pt) OVER w AS seg
      FROM pts
      WINDOW w AS (PARTITION BY event_type ORDER BY pt, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           CAST(coalesce(sum(seg) FILTER (WHERE open_before), 0) AS BIGINT) AS covered
    FROM sweep
    GROUP BY event_type
    ORDER BY event_type
    """,
    note="ClickHouse intervalLengthSum parity: per event type, the total "
    "time covered by the union of [ts, ts + value ms) intervals with "
    "overlaps merged — the maxIntersections sweep reused with a "
    "segment-between-points accumulator; all-integer arithmetic, exact "
    "and partition-order-proof",
)
def e15_interval_length_sum(spark, sf_dir):
    from laion_spark.operators.funnel import interval_length_sum

    e = ev(spark, sf_dir).select(
        "event_type",
        F.col("ts_us").alias("start_us"),
        (F.col("ts_us") + F.round(F.col("value") * 1000, 0).cast("long")).alias(
            "end_us"
        ),
    )
    return interval_length_sum(e, "start_us", "end_us", by=["event_type"]).orderBy(
        "event_type"
    )


# =============================================================================
# MergeTree table-engine semantics (SURVEY.md §2.10 R30)
# =============================================================================


@query(
    "q50_replacing_final",
    oracle="""
    SELECT user_id, event_type, ts_us, value FROM (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             round(value, 6) AS value,
             row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    note="ClickHouse ReplacingMergeTree(version) SELECT FINAL parity: the "
    "events changelog folds to its newest row per (user, type) key — "
    "ClickHouse's keep-last-inserted is block-order-nondeterministic, so "
    "the twin requires the explicit (ts, event_id) tie-break, like d01",
)
def q50_replacing_final(spark, sf_dir):
    from laion_spark.operators.mergetree import replacing_final

    e = ev(spark, sf_dir).select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        F.round("value", 6).alias("value"),
    )
    out = replacing_final(
        e, ["user_id", "event_type"], "ts_us", tiebreak=["event_id"]
    )
    return out.select("user_id", "event_type", "ts_us", "value").orderBy(
        "user_id", "event_type"
    )


@query(
    "q51_collapsing_final",
    oracle="""
    WITH ch AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             event_id, round(value, 6) AS value,
             CASE WHEN event_id % 4 = 0 THEN -1 ELSE 1 END AS sign
      FROM events
    ), tagged AS (
      SELECT *,
             sum(sign) OVER (PARTITION BY user_id, event_type) AS net,
             row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY CASE WHEN sign > 0 THEN 0 ELSE 1 END,
                        ts_us DESC, event_id DESC
             ) AS rn
      FROM ch
    )
    SELECT user_id, event_type, ts_us, value
    FROM tagged WHERE net > 0 AND rn = 1 AND sign > 0
    ORDER BY user_id, event_type
    """,
    note="ClickHouse CollapsingMergeTree(sign) SELECT FINAL parity: +1 "
    "state rows and -1 cancel rows (synthesized: every 4th event is a "
    "cancel) annihilate per key; keys with positive net keep their most "
    "recent state row — one shuffle, net + survivor in a single window "
    "pass, no self-join",
)
def q51_collapsing_final(spark, sf_dir):
    from laion_spark.operators.mergetree import collapsing_final

    e = ev(spark, sf_dir).select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        F.round("value", 6).alias("value"),
        F.when(F.col("event_id") % 4 == 0, F.lit(-1))
        .otherwise(F.lit(1))
        .alias("sign"),
    )
    out = collapsing_final(
        e, ["user_id", "event_type"], "sign", "ts_us", tiebreak=["event_id"]
    )
    return out.select("user_id", "event_type", "ts_us", "value").orderBy(
        "user_id", "event_type"
    )


@query(
    "q52_summing_final",
    oracle="""
    SELECT user_id, event_type,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    note="ClickHouse SummingMergeTree SELECT FINAL parity: numeric "
    "columns pre-sum per key (DECIMAL-exact, partition-order-proof); "
    "non-key non-sum columns are dropped — ClickHouse keeps an arbitrary "
    "one, same nondeterminism-twin declaration as Q9 approx",
)
def q52_summing_final(spark, sf_dir):
    from laion_spark.operators.mergetree import summing_final

    e = ev(spark, sf_dir).select("user_id", "event_type", "value")
    return summing_final(e, ["user_id", "event_type"], ["value"]).orderBy(
        "user_id", "event_type"
    )


# =============================================================================
# Aggregate combinators + ANY JOIN (SURVEY.md §2.10 R31/R32)
# =============================================================================


@query(
    "q53_agg_combinators",
    oracle="""
    SELECT l_linestatus,
           count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_disc,
           coalesce(CAST(sum(CAST(CASE WHEN l_returnflag = 'R'
                  THEN l_extendedprice END AS DECIMAL(18,6))) AS DOUBLE),
                  0.0) AS sum_ret,
           round(CAST(sum(CAST(CASE WHEN l_linenumber = 1 THEN l_quantity END
                  AS DECIMAL(18,6))) AS DOUBLE)
                 / count(CASE WHEN l_linenumber = 1 THEN 1 END), 6) AS avg_l1,
           CAST(sum(CAST(list_aggregate([l_quantity, l_tax], 'sum')
                  AS DECIMAL(18,6))) AS DOUBLE) AS arr_sum,
           count(DISTINCT CASE WHEN l_quantity > 45 THEN l_partkey END)
             AS uniq_parts_hi
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    note="ClickHouse aggregate-combinator family parity: countIf / sumIf "
    "/ avgIf (conditional aggregates), sumArray (per-row HOF fold, then "
    "DECIMAL-exact sum — both engines fold the 2-element array "
    "left-to-right so the double is bit-identical), and countDistinctIf; "
    "all partial-aggregate safe, one shuffle",
)
def q53_agg_combinators(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    arr = F.aggregate(
        F.array("l_quantity", "l_tax"),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_disc"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("l_returnflag") == "R", F.col("l_extendedprice")
                    ).cast("decimal(18,6)")
                ).cast("double"),
                F.lit(0.0),
            ).alias("sum_ret"),
            F.round(
                F.sum(
                    F.when(F.col("l_linenumber") == 1, F.col("l_quantity")).cast(
                        "decimal(18,6)"
                    )
                ).cast("double")
                / F.count(F.when(F.col("l_linenumber") == 1, 1)),
                6,
            ).alias("avg_l1"),
            F.sum(arr.cast("decimal(18,6)")).cast("double").alias("arr_sum"),
            F.count_distinct(
                F.when(F.col("l_quantity") > 45, F.col("l_partkey"))
            ).alias("uniq_parts_hi"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q54_any_left_join",
    oracle="""
    SELECT o.o_orderkey, round(o.o_totalprice, 6) AS o_totalprice,
           f.l_linenumber, round(f.l_quantity, 6) AS l_quantity
    FROM orders o LEFT JOIN (
      SELECT l_orderkey, l_linenumber, l_quantity FROM (
        SELECT l_orderkey, l_linenumber, l_quantity,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber, l_partkey,
                                           l_suppkey, l_quantity) AS rn
        FROM lineitem
      ) WHERE rn = 1
    ) f ON o.o_orderkey = f.l_orderkey
    ORDER BY o.o_orderkey
    """,
    note="ClickHouse ANY LEFT JOIN parity: at most one right row per "
    "left row — ClickHouse keeps whichever match a block meets first "
    "(nondeterministic), the twin keeps the l_linenumber-first row; "
    "right side collapses via WindowGroupLimit before a plain equi "
    "join, so output cardinality is exactly count(orders); the survivor "
    "order is the full unique (linenumber, partkey, suppkey, quantity) "
    "key — l_linenumber alone is not unique in this synthetic lineitem",
)
def q54_any_left_join(spark, sf_dir):
    from laion_spark.operators.relational import any_left_join

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 6).alias("o_totalprice")
    )
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
    )
    out = any_left_join(
        o,
        li,
        ["o_orderkey"],
        [
            F.col("l_linenumber").asc(),
            F.col("l_partkey").asc(),
            F.col("l_suppkey").asc(),
            F.col("l_quantity").asc(),
        ],
    )
    return out.select(
        "o_orderkey",
        "o_totalprice",
        "l_linenumber",
        F.round("l_quantity", 6).alias("l_quantity"),
    ).orderBy("o_orderkey")


# =============================================================================
# Statistical-association + hypothesis-test aggregates (SURVEY.md §2.10 R33/R34)
# =============================================================================

# One SQL text for both engines (dialect intersection): identical textual
# float expressions mean identical IEEE evaluation order, and every
# cross-row sum is a rounded-addend DECIMAL sum, so neither partition
# order nor engine can move a result at the rounded grain.
_Q55_SQL = """
    WITH cells AS (
      SELECT event_type,
             least(CAST(floor(value / 50) AS INT), 4) AS vb,
             count(*) AS o
      FROM {tbl} GROUP BY event_type, least(CAST(floor(value / 50) AS INT), 4)
    ), marg AS (
      SELECT CAST(o AS DOUBLE) AS o,
             CAST(sum(o) OVER (PARTITION BY event_type) AS DOUBLE) AS r,
             CAST(sum(o) OVER (PARTITION BY vb) AS DOUBLE) AS c,
             CAST(sum(o) OVER () AS DOUBLE) AS n
      FROM cells
    ), chi AS (
      SELECT CAST(sum(CAST(round(power(o - r * c / n, 2) / (r * c / n), 6)
                    AS DECIMAL(18,6))) AS DOUBLE) AS chi2,
             max(n) AS n
      FROM marg
    ), dims AS (
      SELECT count(DISTINCT event_type) AS r_cnt,
             count(DISTINCT least(CAST(floor(value / 50) AS INT), 4)) AS c_cnt,
             count(*) AS n_rows
      FROM {tbl}
    ), ent AS (
      SELECT CAST(sum(CAST(round(-(CAST(ec AS DOUBLE) / CAST(nn AS DOUBLE))
                    * log2(CAST(ec AS DOUBLE) / CAST(nn AS DOUBLE)), 9)
                    AS DECIMAL(20,9))) AS DOUBLE) AS entropy
      FROM (
        SELECT ec, sum(ec) OVER () AS nn FROM (
          SELECT count(*) AS ec FROM {tbl} GROUP BY event_type
        )
      )
    )
    SELECT round(ent.entropy, 6) AS entropy,
           round(sqrt(chi.chi2 / (chi.n * least(dims.r_cnt - 1,
                 dims.c_cnt - 1))), 6) AS cramers_v,
           dims.n_rows AS n
    FROM ent CROSS JOIN chi CROSS JOIN dims
"""


@query(
    "q55_entropy_cramers",
    oracle=_Q55_SQL.format(tbl="events"),
    note="ClickHouse entropy() + cramersV() parity: Shannon entropy of "
    "the event-type distribution and Cramer's V association between "
    "event type and a fixed-width value bucket. Counts are exact "
    "integers; the float chi-square/entropy terms are per-cell rounded "
    "then DECIMAL-summed, so the only cross-engine risk is a libm ULP "
    "landing exactly on a rounding boundary (same declaration as q17)",
)
def q55_entropy_cramers(spark, sf_dir):
    ev(spark, sf_dir).createOrReplaceTempView("cat_q55_events")
    return spark.sql(_Q55_SQL.format(tbl="cat_q55_events"))


_Q56_SQL = """
    WITH s AS (
      SELECT
        count(CASE WHEN event_type = 'click' THEN 1 END) AS n1,
        count(CASE WHEN event_type = 'view' THEN 1 END) AS n2,
        CAST(sum(CAST(CASE WHEN event_type = 'click' THEN value END
              AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        CAST(sum(CAST(CASE WHEN event_type = 'view' THEN value END
              AS DECIMAL(18,6))) AS DOUBLE) AS s2,
        CAST(sum(CAST(CASE WHEN event_type = 'click'
              THEN round(value * value, 6) END AS DECIMAL(18,6)))
              AS DOUBLE) AS q1,
        CAST(sum(CAST(CASE WHEN event_type = 'view'
              THEN round(value * value, 6) END AS DECIMAL(18,6)))
              AS DOUBLE) AS q2
      FROM {tbl}
    ), d AS (
      SELECT n1, n2,
             s1 / n1 AS m1, s2 / n2 AS m2,
             (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
             (q2 - s2 * s2 / n2) / (n2 - 1) AS v2
      FROM s
    )
    SELECT n1, n2,
      round((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
            / (n1 + n2 - 2) * (1.0 / n1 + 1.0 / n2)), 6) AS student_t,
      round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS welch_t,
      round(power(v1 / n1 + v2 / n2, 2)
            / (power(v1 / n1, 2) / (n1 - 1)
               + power(v2 / n2, 2) / (n2 - 1)), 6) AS welch_df
    FROM d
"""


@query(
    "q56_ttest",
    oracle=_Q56_SQL.format(tbl="events"),
    note="ClickHouse studentTTest() / welchTTest() parity: two-sample t "
    "statistics (click vs view event values) plus the Welch-"
    "Satterthwaite degrees of freedom, derived from DECIMAL-exact power "
    "sums in one pass (counts, sums, rounded squares) — the identical "
    "textual float derivation runs in both engines, so the statistics "
    "agree at the 6-dp grain; p-values need the incomplete beta and are "
    "out of SQL scope in both engines",
)
def q56_ttest(spark, sf_dir):
    ev(spark, sf_dir).createOrReplaceTempView("cat_q56_events")
    return spark.sql(_Q56_SQL.format(tbl="cat_q56_events"))


# =============================================================================
# Time-decayed aggregation (SURVEY.md §2.10 R35)
# =============================================================================

# ClickHouse ``exponentialMovingAverage(halflife)(value, time)`` is an
# *aggregate*: one decayed value per group, anchored at the group's
# latest timestamp. Anchoring at max(ts) makes the closed form
# sum(v_i * 2^-((tmax-t_i)/halflife)) — no recursion, no truncation:
# one window pass + one sum over the same key partitioning (a single
# shuffle; EnsureRequirements reuses the window's hash distribution for
# the final aggregate). Shared SQL text in both engines; weights decay
# through identical IEEE power() calls, terms are rounded then
# DECIMAL-summed, so partition order cannot move the result.
_E16_SQL = """
    WITH w AS (
      SELECT user_id, value, {ts_us} AS ts_us,
             max({ts_us}) OVER (PARTITION BY user_id) AS tmax
      FROM {tbl}
    )
    SELECT user_id,
           round(CAST(sum(CAST(round(value
                 * power(2.0, -((tmax - ts_us) / 3600000000.0)), 9)
                 AS DECIMAL(20,9))) AS DOUBLE), 6) AS ema
    FROM w GROUP BY user_id ORDER BY user_id
"""


@query(
    "e16_exponential_moving_average",
    oracle=_E16_SQL.format(
        tbl="events", ts_us="epoch_us(CAST(ts AS TIMESTAMP))"
    ),
    note="ClickHouse exponentialMovingAverage(1h halflife) parity: "
    "per-user time-decayed sum anchored at the user's newest event — "
    "the closed form needs no sequential fold, so it stays a plain "
    "window+aggregate over one shuffle",
)
def e16_exponential_moving_average(spark, sf_dir):
    ev(spark, sf_dir).createOrReplaceTempView("cat_e16_events")
    return spark.sql(_E16_SQL.format(tbl="cat_e16_events", ts_us="ts_us"))


@query(
    "e17_funnel_strict_order",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT user_id,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                        coalesce(CASE event_type WHEN 'view' THEN 1
                                 WHEN 'click' THEN 2
                                 WHEN 'purchase' THEN 3 END, 0)) AS idx,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             coalesce(CASE event_type WHEN 'view' THEN 1
                      WHEN 'click' THEN 2
                      WHEN 'purchase' THEN 3 END, 0) AS step
      FROM events
    ), fold AS (
      SELECT user_id, 0 AS idx, CAST(-1 AS BIGINT) AS s1,
             CAST(-1 AS BIGINT) AS s2, CAST(-1 AS BIGINT) AS s3, 0 AS d
      FROM (SELECT DISTINCT user_id FROM e)
      UNION ALL
      SELECT f.user_id, f.idx + 1,
        CASE WHEN f.d = 1 OR (f.s1 >= 0 AND NOT (
               (ev.step = 2 AND f.s1 >= 0 AND ev.t > f.s1
                AND ev.t - f.s1 <= 3600000000)
               OR (ev.step = 3 AND f.s2 >= 0 AND ev.t > f.s2
                   AND ev.t - f.s2 <= 3600000000)))
             THEN f.s1
             WHEN ev.step = 1 THEN ev.t ELSE f.s1 END,
        CASE WHEN f.d = 1 OR (f.s1 >= 0 AND NOT (
               (ev.step = 2 AND f.s1 >= 0 AND ev.t > f.s1
                AND ev.t - f.s1 <= 3600000000)
               OR (ev.step = 3 AND f.s2 >= 0 AND ev.t > f.s2
                   AND ev.t - f.s2 <= 3600000000)))
             THEN f.s2
             WHEN ev.step = 2 AND f.s1 >= 0 AND ev.t > f.s1
                  AND ev.t - f.s1 <= 3600000000
             THEN greatest(f.s2, f.s1) ELSE f.s2 END,
        CASE WHEN f.d = 1 OR (f.s1 >= 0 AND NOT (
               (ev.step = 2 AND f.s1 >= 0 AND ev.t > f.s1
                AND ev.t - f.s1 <= 3600000000)
               OR (ev.step = 3 AND f.s2 >= 0 AND ev.t > f.s2
                   AND ev.t - f.s2 <= 3600000000)))
             THEN f.s3
             WHEN ev.step = 3 AND f.s2 >= 0 AND ev.t > f.s2
                  AND ev.t - f.s2 <= 3600000000
             THEN greatest(f.s3, f.s2) ELSE f.s3 END,
        CASE WHEN f.d = 1 THEN 1
             WHEN f.s1 >= 0 AND NOT (
               (ev.step = 2 AND f.s1 >= 0 AND ev.t > f.s1
                AND ev.t - f.s1 <= 3600000000)
               OR (ev.step = 3 AND f.s2 >= 0 AND ev.t > f.s2
                   AND ev.t - f.s2 <= 3600000000))
             THEN 1 ELSE 0 END
      FROM fold f JOIN e ev ON ev.user_id = f.user_id AND ev.idx = f.idx + 1
    )
    SELECT user_id,
           CASE WHEN s3 >= 0 THEN 3 WHEN s2 >= 0 THEN 2
                WHEN s1 >= 0 THEN 1 ELSE 0 END AS level
    FROM (SELECT user_id, s1, s2, s3,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY idx DESC) AS rn
          FROM fold)
    WHERE rn = 1
    ORDER BY user_id
    """,
    note="ClickHouse windowFunnel(..., 'strict_order') parity: once a "
    "chain starts, ANY event that does not advance it (other event "
    "types, repeated starts, expired steps) freezes the level — the "
    "docs' A->B->D->C example stops at D. Spark side is the e06 HOF "
    "fold plus one dead-flag field; the oracle replays the identical "
    "written spec as a DuckDB recursive-CTE automaton (the e11 "
    "two-independent-implementations pattern)",
)
def e17_funnel_strict_order(spark, sf_dir):
    from laion_spark.operators.funnel import window_funnel

    return window_funnel(
        ev(spark, sf_dir),
        ["view", "click", "purchase"],
        3_600_000_000,
        mode="strict_order",
    ).orderBy("user_id")


# =============================================================================
# arrayJoin / arrayEnumerate (SURVEY.md §2.10 R37)
# =============================================================================


@query(
    "q57_array_join_enumerate",
    oracle="""
    SELECT doc_id,
           unnest(generate_series(1, len(toks))) AS pos,
           unnest(toks) AS tok
    FROM (
      SELECT doc_id, list_slice(string_split(text, ' '), 1, 5) AS toks
      FROM documents WHERE doc_id % 5 = 0
    )
    ORDER BY doc_id, pos
    """,
    note="ClickHouse arrayJoin + arrayEnumerate parity: row expansion "
    "with 1-based positions — Spark posexplode (0-based, +1) vs "
    "DuckDB's zipped unnest(generate_series)/unnest(list); both "
    "explode lazily inside the scan stage, no shuffle before the "
    "expansion",
)
def q57_array_join_enumerate(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    toks = F.slice(F.split(F.col("text"), " "), 1, 5)
    return (
        d.select("doc_id", F.posexplode(toks).alias("pos0", "tok"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            "tok",
        )
        .orderBy("doc_id", "pos")
    )


@query(
    "q58_topk_weighted",
    oracle="""
    SELECT item, n, err FROM (
      SELECT event_type AS item,
             CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS n,
             CAST(0 AS BIGINT) AS err
      FROM events GROUP BY event_type
    ) ORDER BY n DESC, item ASC LIMIT 3
    """,
    note="ClickHouse topKWeighted parity in the exact regime (capacity "
    ">= distinct items, so no counter ever evicts and the SpaceSaving "
    "estimate equals the true weight sum — same declaration as t07): "
    "heaviest event types by integer floor(value) weight; only "
    "partition-local counters shuffle, never rows. floor (not round) "
    "keeps the weight engine-independent: Spark rounds doubles HALF_UP, "
    "DuckDB half-even, and .5 weights exist in this fixture",
)
def q58_topk_weighted(spark, sf_dir):
    from laion_spark.operators.topk import topk_approx

    e = ev(spark, sf_dir).withColumn(
        "w", F.floor(F.col("value")).cast("long")
    )
    return topk_approx(e, "event_type", k=3, weight_col="w")


# =============================================================================
# S6: managed-table sink — catalog round-trip (reference search.py:165
# addresses tables by NAME; this proves write-by-name -> query-by-name)
# =============================================================================


@query(
    "q59_managed_table_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    note="S6 managed-table sink round-trip: documents saved via "
    "save_as_table (external parquet table, named in the session "
    "catalog), then aggregated through spark.table() — the oracle runs "
    "on the original parquet, so a mismatch means the sink lost or "
    "mangled rows",
)
def q59_managed_table_roundtrip(spark, sf_dir):
    import tempfile

    from laion_spark.sources.npy import save_as_table

    d = t(spark, sf_dir, "documents")
    tbl = "laion_s6_documents"
    path = os.path.join(tempfile.gettempdir(), f"laion_s6_documents_{os.getpid()}")
    save_as_table(d, tbl, path=path)
    return (
        spark.table(tbl)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text").cast("long")).alias("total_chars"),
        )
        .orderBy("lang")
    )


# =============================================================================
# Skew-resistant shuffles (100 TB posture): explicit salting. The
# oracles are the PLAIN join/agg SQL — salting must be invisible in
# results, which is exactly what these entries prove.
# =============================================================================


@query(
    "q60_salted_join_revenue",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_items,
           {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    note="salted_join (operators/skew.py): the fact side's join key is "
    "salted 8 ways and the right side replicated, so a hot orderkey "
    "spreads over 8 reducers; result must equal the plain join",
)
def q60_salted_join_revenue(spark, sf_dir):
    from laion_spark.operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
    j = salted_join(li, o.select("l_orderkey", "o_orderpriority"), on="l_orderkey", n_salts=8)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q61_salted_agg_event_value",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           {_dsum_sql('value')} AS total_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note="salted_agg (operators/skew.py): two-phase aggregation — "
    "partials on (event_type, salt) keep exact DECIMAL accumulators, "
    "merged on event_type; a hot key reduces to n_salts partial rows "
    "before the final (tiny) shuffle",
)
def q61_salted_agg_event_value(spark, sf_dir):
    from laion_spark.operators.skew import salted_agg

    e = t(spark, sf_dir, "events")
    out = salted_agg(
        e,
        "event_type",
        {
            "n": F.count(F.lit(1)),
            # keep the partial DECIMAL-typed: the merge then sums
            # decimals (exact, order-independent) and only the final
            # projection drops to double — same value the oracle computes
            "total_value": F.sum(F.col("value").cast("decimal(18,6)")),
            "min_value": (F.min("value"), "min"),
            "max_value": (F.max("value"), "max"),
        },
        n_salts=8,
    )
    return out.select(
        "event_type",
        "n",
        F.col("total_value").cast("double").alias("total_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
    ).orderBy("event_type")


# =============================================================================
# ClickHouse analytic parity — round-5 additions
# =============================================================================


@query(
    "q62_bounding_ratio",
    oracle="""
    SELECT event_type,
           round((arg_max(value, event_id) - arg_min(value, event_id))
                 / (max(event_id) - min(event_id)), 6) AS bounding_ratio
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note="ClickHouse boundingRatio(x, y): slope between the min-x and "
    "max-x points of the group — algebraic via max_by/min_by, one "
    "map-side-combining shuffle",
)
def q62_bounding_ratio(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(
                (F.max_by("value", "event_id") - F.min_by("value", "event_id"))
                / (F.max("event_id") - F.min("event_id")),
                6,
            ).alias("bounding_ratio")
        )
        .orderBy("event_type")
    )


@query(
    "q63_uniq_up_to",
    oracle="""
    SELECT event_type,
           least(count(DISTINCT user_id), 11) AS uniq_up_to_10,
           count(DISTINCT user_id) <= 10 AS is_exact
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note="ClickHouse uniqUpTo(10): exact distinct count while <= N, "
    "saturating at N+1 — the bounded-memory contract matters at scale "
    "(the full distinct count is computed here for the oracle; a "
    "production path would cap the per-group set at N+1 elements)",
)
def q63_uniq_up_to(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.least(F.count_distinct("user_id"), F.lit(11)).cast("long").alias("uniq_up_to_10"),
            (F.count_distinct("user_id") <= 10).alias("is_exact"),
        )
        .orderBy("event_type")
    )


@query(
    "q64_sequence_next_node",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), hits AS (
      SELECT user_id, e3,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pick
      FROM ordered WHERE event_type = 'view' AND e2 = 'click'
    )
    SELECT user_id, e3 AS next_node FROM hits WHERE pick = 1 ORDER BY user_id
    """,
    note="ClickHouse sequenceNextNode('forward','head'): the event that "
    "follows the first direct chain view->click per user — one shuffle "
    "on user_id, two stacked lead() windows over the same sort (single "
    "Window exec), WindowGroupLimit-eligible pick",
)
def q64_sequence_next_node(spark, sf_dir):
    e = ev(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    chained = (
        e.select(
            "user_id",
            "event_type",
            "ts_us",
            "event_id",
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter((F.col("event_type") == "view") & (F.col("e2") == "click"))
        .withColumn(
            "pick",
            F.row_number().over(W.partitionBy("user_id").orderBy("ts_us", "event_id")),
        )
        .filter(F.col("pick") == 1)
    )
    return chained.select("user_id", F.col("e3").alias("next_node")).orderBy("user_id")


# =============================================================================
# Composite TPC-H shapes (round-5): forecasting-revenue filter-agg and
# large-volume-customer HAVING-subquery join
# =============================================================================


@query(
    "q65_forecast_revenue",
    oracle=f"""
    SELECT {_dsum_sql('l_extendedprice * l_discount')} AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    note="TPC-H Q6 shape: pure filter + ungrouped agg — the whole "
    "predicate must reach the parquet scan (PushedFilters) and the agg "
    "is a single partial/final pair with no data shuffle",
)
def q65_forecast_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count("*").alias("n_items"),
    )


@query(
    "q66_large_volume_customer",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey,
           epoch_us(o_orderdate) AS o_orderdate_us,
           round(o_totalprice, 6) AS o_totalprice,
           {_dsum_sql('l_quantity')} AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 250
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    note="TPC-H Q18 shape: HAVING-filtered IN-subquery (left-semi "
    "join on the aggregated key set — small, so AQE broadcasts it), "
    "then customer/orders joins and a top-N by totalprice",
)
def q66_large_volume_customer(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_us"),
            F.round("o_totalprice", 6).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# downsampling — ClickHouse largestTriangleThreeBuckets. The area
# terms are the integer-quantized spec from operators/lttb.py: every
# parenthesized difference is exact int64, the two products run in
# IEEE float64 — bit-identical in both engines, so strict-> tie
# handling (first max wins in (x, event_id) scan order) agrees too.
_LTTB_AREA_STEP = """abs(CAST((CASE WHEN p.b > f.cur_b THEN f.best_x ELSE f.prev_x END) * a.ac - a.ax AS DOUBLE)
            * CAST(p.yq - (CASE WHEN p.b > f.cur_b THEN f.best_y ELSE f.prev_y END) AS DOUBLE)
            - CAST((CASE WHEN p.b > f.cur_b THEN f.best_x ELSE f.prev_x END) - p.xq AS DOUBLE)
            * CAST(a.ay - (CASE WHEN p.b > f.cur_b THEN f.best_y ELSE f.prev_y END) * a.ac AS DOUBLE))"""

_LTTB_AREA_BASE = """abs(CAST(p1.xq * a.ac - a.ax AS DOUBLE) * CAST(p2.yq - p1.yq AS DOUBLE)
             - CAST(p1.xq - p2.xq AS DOUBLE) * CAST(a.ay - p1.yq * a.ac AS DOUBLE))"""


@query(
    "e18_lttb_downsample",
    oracle=f"""
    WITH RECURSIVE pts AS MATERIALIZED (
      SELECT event_type AS g, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS x,
             value AS y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n,
             min(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY event_type) AS x0
      FROM events
    ), q AS MATERIALIZED (
      SELECT g, event_id, rn, n, x, y,
             x - x0 AS xq,
             CAST(floor(y * 1e6) AS BIGINT) AS yq,
             CASE WHEN rn BETWEEN 2 AND n - 1
                  THEN ((rn - 2) * 10) // (n - 2) END AS b
      FROM pts
    ), bstats AS MATERIALIZED (
      SELECT g, b, sum(xq) AS sx, sum(yq) AS sy, count(*) AS c
      FROM q WHERE b IS NOT NULL GROUP BY g, b
    ), anchors AS MATERIALIZED (
      SELECT d.g, d.b,
             coalesce(nb.sx, lastp.xq) AS ax,
             coalesce(nb.sy, lastp.yq) AS ay,
             coalesce(nb.c, 1) AS ac
      FROM (SELECT DISTINCT g, b FROM q WHERE b IS NOT NULL) d
      LEFT JOIN bstats nb ON nb.g = d.g AND nb.b = d.b + 1
      JOIN (SELECT g, xq, yq FROM q WHERE rn = n) lastp ON lastp.g = d.g
    ), fold AS (
      SELECT p2.g, 2 AS rn, p2.n, p2.b AS cur_b,
             p1.xq AS prev_x, p1.yq AS prev_y,
             {_LTTB_AREA_BASE} AS best_a,
             p2.rn AS best_rn, p2.xq AS best_x, p2.yq AS best_y,
             CAST([] AS BIGINT[]) AS sel
      FROM q p1
      JOIN q p2 ON p2.g = p1.g AND p2.rn = 2
      JOIN anchors a ON a.g = p2.g AND a.b = p2.b
      WHERE p1.rn = 1
      UNION ALL
      SELECT f.g, p.rn, f.n, p.b,
             CASE WHEN p.b > f.cur_b THEN f.best_x ELSE f.prev_x END,
             CASE WHEN p.b > f.cur_b THEN f.best_y ELSE f.prev_y END,
             CASE WHEN p.b > f.cur_b OR {_LTTB_AREA_STEP} > f.best_a
                  THEN {_LTTB_AREA_STEP} ELSE f.best_a END,
             CASE WHEN p.b > f.cur_b OR {_LTTB_AREA_STEP} > f.best_a
                  THEN p.rn ELSE f.best_rn END,
             CASE WHEN p.b > f.cur_b OR {_LTTB_AREA_STEP} > f.best_a
                  THEN p.xq ELSE f.best_x END,
             CASE WHEN p.b > f.cur_b OR {_LTTB_AREA_STEP} > f.best_a
                  THEN p.yq ELSE f.best_y END,
             CASE WHEN p.b > f.cur_b THEN list_append(f.sel, f.best_rn) ELSE f.sel END
      FROM fold f
      JOIN q p ON p.g = f.g AND p.rn = f.rn + 1 AND p.rn <= f.n - 1
      JOIN anchors a ON a.g = p.g AND a.b = p.b
    ), final AS (
      SELECT g, sel, best_rn
      FROM (SELECT *, row_number() OVER (PARTITION BY g ORDER BY rn DESC) AS r FROM fold)
      WHERE r = 1
    ), chosen AS (
      SELECT g, 1 AS rn FROM (SELECT DISTINCT g FROM q)
      UNION ALL SELECT g, unnest(sel) FROM final
      UNION ALL SELECT g, best_rn FROM final
      UNION ALL SELECT DISTINCT g, n AS rn FROM q
    )
    SELECT q.g AS event_type, q.x AS ts_us, round(q.y, 6) AS value, q.event_id
    FROM chosen JOIN q ON q.g = chosen.g AND q.rn = chosen.rn
    ORDER BY event_type, ts_us, event_id
    """,
    note="ClickHouse largestTriangleThreeBuckets(12)(ts, value) per "
    "event_type: sequential per-bucket selection (operators/lttb.py, "
    "one shuffle + per-series numpy pass). The oracle replays the same "
    "integer-quantized spec as a DuckDB recursive-CTE fold over points "
    "in (x, event_id) order — two independent implementations of one "
    "written spec, hash-matched",
)
def e18_lttb_downsample(spark, sf_dir):
    from laion_spark.operators.lttb import lttb

    e = ev(spark, sf_dir)
    out = lttb(
        e,
        x_col="ts_us",
        y_col="value",
        n_out=12,
        group_by="event_type",
        tiebreak="event_id",
    )
    return out.select(
        "event_type", "ts_us", F.round("value", 6).alias("value"), "event_id"
    ).orderBy("event_type", "ts_us", "event_id")


# =============================================================================
# Round-6 additions: remaining TPC-H correlated-subquery shapes and a
# mergeable distinct-count sketch (ClickHouse uniqCombined -State/-Merge
# analog via Spark's DataSketches HLL surface).
# =============================================================================


@query(
    "q67_order_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    note="TPC-H Q4 shape (correlated EXISTS; adapted to this schema's "
    "columns: 'late' = shipped >60 days after order). Spark realization "
    "is a LEFT SEMI join on orderkey with the date inequality as a "
    "residual join condition — the orders date range prunes at the scan, "
    "the semi join never materializes lineitem columns, and the final "
    "agg is 5 groups (map-side combine, no second data shuffle)",
)
def q67_order_priority_check(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q68_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    note="TPC-H Q13 shape: outer join with a non-key join predicate "
    "(the predicate belongs to the JOIN, not a WHERE — a WHERE would "
    "silently turn the outer join inner), per-customer order count, "
    "then the distribution of that count. Scale: one shuffle on "
    "custkey for join+first agg (same key, AQE reuses the exchange); "
    "the second agg's domain is tiny (distinct order counts)",
)
def q68_customer_distribution(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q69_hll_sketch_merge",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE AS sketch_ok
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    note="ClickHouse uniqCombinedState/-Merge analog: per-(type, day) "
    "partial HLL sketches (hll_sketch_agg — Apache DataSketches, "
    "mergeable binary state), re-aggregated to event_type with "
    "hll_union_agg and read out via hll_sketch_estimate. This is the "
    "100 TB pattern for distinct counts: daily partials are computed "
    "once, stored small, and merged across any date range without "
    "rescanning raw data. The estimate is approximate by construction, "
    "so the hash-matched contract is the tolerance BOOLEAN (within 5% "
    "of exact; DataSketches lgK=12 is ~1.6% RSE) plus the exact count "
    "— the same bounded-error oracle style as the ANN recall gates",
)
def q69_hll_sketch_merge(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    partial = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = partial.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_est")
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return (
        exact.join(merged, "event_type")
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("n_est") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("sketch_ok"),
        )
        .orderBy("event_type")
    )


@query(
    "q70_sample_clause",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           {_dsum_sql('value')} AS total_value
    FROM events
    WHERE (user_id * 2654435761) % 4294967296 < 429496729
    GROUP BY event_type
    ORDER BY event_type
    """,
    note="ClickHouse SAMPLE-clause analog (SAMPLE 1/10 over SAMPLE BY "
    "intHash32(user_id)): deterministic key-coherent hash sampling as "
    "a pure Catalyst filter — same row set on every engine/rerun, all "
    "of a user's rows kept or dropped together, filter evaluated at "
    "the scan so a sampled aggregation moves ~1/10 of the data at "
    "100 TB. Oracle replays the identical Knuth-hash arithmetic",
)
def q70_sample_clause(spark, sf_dir):
    from laion_spark.operators.sample import sample_by

    e = sample_by(t(spark, sf_dir, "events"), "user_id", 0.1)
    return (
        e.groupBy("event_type")
        .agg(F.count("*").alias("n"), dsum("value", "total_value"))
        .orderBy("event_type")
    )


@query(
    "q71_array_join",
    oracle="""
    SELECT doc_id, tok, ord FROM (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             unnest(generate_series(1, len(string_split(text, ' ')))) AS ord
      FROM documents WHERE doc_id % 20 = 0
    )
    ORDER BY doc_id, ord
    """,
    note="ClickHouse ARRAY JOIN with ordinality (arrayJoin + "
    "arrayEnumerate): posexplode keeps the element position, the "
    "per-document token stream stays reconstructable. Generate-side "
    "operator (no shuffle; explode inside whole-stage codegen); "
    "DuckDB oracle zips parallel unnests for the ordinal",
)
def q71_array_join(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter("doc_id % 20 = 0")
    return (
        d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
        .select("doc_id", "tok", (F.col("pos") + 1).cast("bigint").alias("ord"))
        .orderBy("doc_id", "ord")
    )


@query(
    "q72_quantile_sketch_merge",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS p50_exact,
           TRUE AS sketch_ok
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    note="ClickHouse quantileTDigestState/-Merge analog: per-(type, day) "
    "KLL sketches (kll_sketch_agg_double — Apache DataSketches, "
    "mergeable binary state, exact n) re-merged to event_type with "
    "kll_merge_agg_double and queried for the median. The 100 TB "
    "pattern for percentiles: daily partials stored small, merged over "
    "any date range without rescanning raw data. KLL returns an order "
    "statistic with bounded RANK error (k=200 -> ~1.65% at 99% conf), "
    "so the gate is rank-based: the exact rank of the sketch's median "
    "must land within 5% of 0.5. Exact n and exact p50 are hash-matched",
)
def q72_quantile_sketch_merge(spark, sf_dir):
    e = ev(spark, sf_dir)
    daily = e.groupBy("event_type", F.to_date("ts_t").alias("d")).agg(
        F.kll_sketch_agg_double("value").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.kll_merge_agg_double("sk").alias("sk")
    )
    est = merged.select(
        "event_type",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50_est"),
    )
    # exact rank of the estimate (one extra agg over events, broadcast
    # est is 5 rows) — the bounded-error contract, ANN-recall-gate style
    ranked = (
        e.join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.percentile("value", 0.5), 6).alias("p50_exact"),
            (
                (F.sum((F.col("value") <= F.col("p50_est")).cast("long")) / F.count("*"))
                .between(0.45, 0.55)
            ).alias("sketch_ok"),
        )
    )
    return ranked.orderBy("event_type")


@query(
    "q73_theta_set_ops",
    oracle="""
    WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
    SELECT (SELECT count(*) FROM p) AS n_purchase,
           (SELECT count(*) FROM c) AS n_click,
           (SELECT count(*) FROM (SELECT * FROM p INTERSECT SELECT * FROM c)) AS n_both_exact,
           TRUE AS inter_ok, TRUE AS union_ok, TRUE AS diff_ok
    """,
    note="ClickHouse uniqTheta + uniqThetaIntersect/Union/Not analog: "
    "per-(type, day) theta sketches (theta_sketch_agg — DataSketches "
    "binary state) merged with theta_union_agg, then SET ALGEBRA on "
    "the merged sketches: estimated |purchasers AND clickers|, "
    "|purchasers OR clickers|, |purchasers NOT clickers| — distinct "
    "sets never materialize, so segment overlap at 100 TB is a "
    "sketch-sized merge, not a distinct-join. Exact counts are "
    "hash-matched; each estimate gates at 5% (theta default k=4096 is "
    "EXACT below ~4096 distinct keys and <2% RSE above)",
)
def q73_theta_set_ops(spark, sf_dir):
    e = ev(spark, sf_dir)
    daily = (
        e.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type", F.to_date("ts_t").alias("d"))
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
    )
    bytype = daily.groupBy("event_type").agg(F.theta_union_agg("sk").alias("sk"))
    p = bytype.filter(F.col("event_type") == "purchase").select(F.col("sk").alias("sp"))
    c = bytype.filter(F.col("event_type") == "click").select(F.col("sk").alias("sc"))
    ests = p.crossJoin(c).select(
        F.theta_sketch_estimate(F.theta_intersection("sp", "sc")).alias("e_inter"),
        F.theta_sketch_estimate(F.theta_union("sp", "sc")).alias("e_union"),
        F.theta_sketch_estimate(F.theta_difference("sp", "sc")).alias("e_diff"),
    )
    exact = e.select(
        F.count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("n_purchase"),
        F.count_distinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("n_click"),
    )
    both = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .intersect(
            e.filter(F.col("event_type") == "click").select("user_id").distinct()
        )
        .agg(F.count("*").alias("n_both_exact"))
    )

    out = exact.crossJoin(both).crossJoin(ests)
    return out.select(
        "n_purchase",
        "n_click",
        "n_both_exact",
        (F.abs(F.col("e_inter") - F.col("n_both_exact")) <= 0.05 * F.col("n_both_exact")).alias("inter_ok"),
        (
            F.abs(F.col("e_union") - (F.col("n_purchase") + F.col("n_click") - F.col("n_both_exact")))
            <= 0.05 * (F.col("n_purchase") + F.col("n_click") - F.col("n_both_exact"))
        ).alias("union_ok"),
        (
            F.abs(F.col("e_diff") - (F.col("n_purchase") - F.col("n_both_exact")))
            <= 0.05 * F.greatest(F.col("n_purchase") - F.col("n_both_exact"), F.lit(1))
        ).alias("diff_ok"),
    )


@query(
    "q74_simple_linear_regression",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sxx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
    FROM s ORDER BY l_returnflag
    """,
    note="ClickHouse simpleLinearRegression(x, y) analog: least-squares "
    "slope/intercept of extendedprice on quantity per returnflag. "
    "Algebraic — five partial sums (n, Sx, Sy, Sxy, Sxx) map-side "
    "combine into 3 groups; the normal-equation arithmetic runs on "
    "exact DECIMAL(30,6) sums (order-independent) so both engines "
    "divide identical doubles. One shuffle of 5 numbers per group at "
    "any scale",
)
def q74_simple_linear_regression(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    d30 = lambda c: F.sum(c.cast("decimal(30,6)")).cast("double")  # noqa: E731
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        d30(F.col("l_quantity")).alias("sx"),
        d30(F.col("l_extendedprice")).alias("sy"),
        d30(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
        d30(F.col("l_quantity") * F.col("l_quantity")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias("intercept"),
    ).orderBy("l_returnflag")


@query(
    "q75_rank_corr",
    oracle="""
    WITH r AS (
      SELECT l_returnflag,
             (2.0 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
              + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0 AS rx,
             (2.0 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
              + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0 AS ry
      FROM lineitem
    ), s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(rx AS DECIMAL(30,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(ry AS DECIMAL(30,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(rx * ry AS DECIMAL(30,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(rx * rx AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(ry * ry AS DECIMAL(30,6))) AS DOUBLE) AS syy
      FROM r GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((n * sxy - sx * sy)
                 / sqrt(n * sxx - sx * sx) / sqrt(n * syy - sy * sy), 6) AS spearman
    FROM s ORDER BY l_returnflag
    """,
    note="ClickHouse rankCorr(x, y) analog: Spearman correlation as "
    "Pearson over average-assigned tie ranks (min-rank + tie-count "
    "windows give the fractional average rank exactly, no floats until "
    "the final division). Two window sorts per group, then the same "
    "algebraic 5-sum reduction as q74 on exact DECIMAL(30,6) "
    "accumulators — identical doubles enter sqrt/divide in both "
    "engines. Scale: rank windows partition by group; the reduction "
    "ships 6 numbers per group",
)
def q75_rank_corr(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")

    def avg_rank(order_col):
        w = W.partitionBy("l_returnflag").orderBy(order_col)
        tie = W.partitionBy("l_returnflag", order_col)
        return (2.0 * F.rank().over(w) + F.count("*").over(tie) - 1) / 2.0

    r = li.select(
        "l_returnflag",
        avg_rank("l_quantity").alias("rx"),
        avg_rank("l_extendedprice").alias("ry"),
    )
    d30 = lambda c: F.sum(c.cast("decimal(30,6)")).cast("double")  # noqa: E731
    s = r.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        d30(F.col("rx")).alias("sx"),
        d30(F.col("ry")).alias("sy"),
        d30(F.col("rx") * F.col("ry")).alias("sxy"),
        d30(F.col("rx") * F.col("rx")).alias("sxx"),
        d30(F.col("ry") * F.col("ry")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        "l_returnflag", "n", F.round(num / den, 6).alias("spearman")
    ).orderBy("l_returnflag")


@query(
    "e19_mann_whitney_u",
    oracle="""
    WITH g AS (
      SELECT value,
             count(*) AS t,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS t1
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY value
    ), r AS (
      SELECT t, t1,
             coalesce(sum(t) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_less
      FROM g
    ), s AS (
      SELECT CAST(sum(t1) AS BIGINT) AS n1,
             CAST(sum(t - t1) AS BIGINT) AS n2,
             CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(CAST(t1 * (cum_less + (t + 1) / 2.0) AS DECIMAL(30,6))) AS DOUBLE) AS r1,
             CAST(sum(CAST(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0))
                           * CAST(t AS DECIMAL(12,0)) - t AS DECIMAL(38,0))) AS DOUBLE) AS tie3
      FROM r
    )
    SELECT n1, n2,
           round(r1 - n1 * (n1 + 1) / 2.0, 6) AS u1,
           round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / sqrt(n1 * n2 / 12.0 * ((n + 1) - tie3 / (n * (n - 1.0)))), 6) AS z
    FROM s
    """,
    note="ClickHouse mannWhitneyUTest(value, sample_index) analog over "
    "click-vs-view event values: average tie ranks derived from a "
    "prefix sum over the DISTINCT-value table (cum_less + (t+1)/2), "
    "then U1 = R1 - n1(n1+1)/2 and the tie-corrected normal z. "
    "Strictly more scale-friendly than the reference's "
    "buffer-all-samples aggregate state: raw events reduce to one row "
    "per distinct value before any ordered pass (p-value omitted: "
    "neither engine ships erf; p = 2(1-Phi(|z|))). All accumulations "
    "are exact DECIMAL(30,6) half-integers, so both engines divide "
    "identical doubles",
)
def e19_mann_whitney_u(spark, sf_dir):
    from laion_spark.operators.prefix import global_prefix_sum

    e = t(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "view"))
    g = e.groupBy("value").agg(
        F.count("*").alias("t"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("t1"),
    )
    # distributed prefix sum over the distinct-value table (value is a
    # unique key post-groupBy) — never an Exchange SinglePartition
    r = global_prefix_sum(g, ["value"], "t", "cum_less", exclusive=True).select(
        "t", "t1", "cum_less"
    )
    d30 = lambda c: F.sum(c.cast("decimal(30,6)")).cast("double")  # noqa: E731
    _td = F.col("t").cast("decimal(12,0)")
    s = r.select(
        F.sum("t1").alias("n1"),
        F.sum(F.col("t") - F.col("t1")).alias("n2"),
        F.sum("t").alias("n"),
        d30(F.col("t1") * (F.col("cum_less") + (F.col("t") + 1) / 2.0)).alias("r1"),
        # cube in DECIMAL, not BIGINT: a tie group above ~2.09M rows
        # would overflow int64 under ANSI (ADVICE r4). The scale-0
        # 38-digit accumulator holds t^3 exactly to t ~ 4.6e12 — a
        # scale-6 cast would have re-capped it at t ~ 4.6e10; tie3 is
        # integral so no fractional digits are needed. Both engines sum
        # identical values
        F.sum(
            (_td * _td * _td - F.col("t")).cast("decimal(38,0)")
        ).cast("double").alias("tie3"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    z = (u1 - F.col("n1") * F.col("n2") / 2.0) / F.sqrt(
        F.col("n1")
        * F.col("n2")
        / 12.0
        * ((F.col("n") + 1) - F.col("tie3") / (F.col("n") * (F.col("n") - 1.0)))
    )
    return s.select(
        "n1", "n2", F.round(u1, 6).alias("u1"), F.round(z, 6).alias("z")
    )


@query(
    "q76_minmax_map",
    oracle="""
    SELECT user_id, event_type,
           round(min(value), 6) AS vmin,
           round(max(value), 6) AS vmax
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    note="ClickHouse minMap/maxMap parity (the sumMap combinator family; "
    "the per-combinator map re-assembly lives in sum_map with "
    "agg='min'/'max', unit-tested in test_relational). This entry runs "
    "the FUSED form — one explode, one narrow (user, key) shuffle "
    "computing min and max together — because materializing two maps "
    "only to zip them back costs a second fact scan plus a join; "
    "min/max are order-independent so no decimal detour is needed",
)
def q76_minmax_map(spark, sf_dir):
    e = t(spark, sf_dir, "events").select(
        "user_id", F.create_map(F.col("event_type"), F.col("value")).alias("m")
    )
    kv = e.select("user_id", F.explode("m").alias("event_type", "v"))
    return (
        kv.groupBy("user_id", "event_type")
        .agg(
            F.round(F.min("v"), 6).alias("vmin"),
            F.round(F.max("v"), 6).alias("vmax"),
        )
        .orderBy("user_id", "event_type")
    )


@query(
    "q77_running_total",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_micros
      FROM orders GROUP BY 1
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           rev_micros,
           CAST(sum(rev_micros) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_micros
    FROM daily ORDER BY day
    """,
    note="ClickHouse runningAccumulate / cumulative-revenue shape: daily "
    "order revenue (exact decimal, surfaced as integer micros so the "
    "cumulative sum is associativity-proof) with a RUNNING TOTAL in "
    "global date order computed by global_prefix_sum — distributed "
    "(range repartition + per-partition window + offset broadcast), "
    "never an Exchange SinglePartition, while the oracle uses the "
    "plain single-window SQL the operator must reproduce",
)
def q77_running_total(spark, sf_dir):
    from laion_spark.operators.prefix import global_prefix_sum

    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,6)")) * 1_000_000)
        .cast("bigint")
        .alias("rev_micros")
    )
    run = global_prefix_sum(daily, ["d"], "rev_micros", "running_micros", exclusive=False)
    return run.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "rev_micros",
        "running_micros",
    ).orderBy("day")


_Q78_SQL = """
    WITH cells AS (
      SELECT event_type,
             least(CAST(floor(value / 50) AS INT), 4) AS vb,
             count(*) AS o
      FROM {tbl} GROUP BY event_type, least(CAST(floor(value / 50) AS INT), 4)
    ), marg AS (
      SELECT CAST(o AS DOUBLE) AS o,
             CAST(sum(o) OVER (PARTITION BY vb) AS DOUBLE) AS c,
             CAST(sum(o) OVER () AS DOUBLE) AS n
      FROM cells
    ), hxy AS (
      SELECT CAST(sum(CAST(round(-(o / n) * log2(o / c), 9)
                    AS DECIMAL(20,9))) AS DOUBLE) AS h_x_given_y,
             max(n) AS n
      FROM marg
    ), hx AS (
      SELECT CAST(sum(CAST(round(-(CAST(ec AS DOUBLE) / CAST(nn AS DOUBLE))
                    * log2(CAST(ec AS DOUBLE) / CAST(nn AS DOUBLE)), 9)
                    AS DECIMAL(20,9))) AS DOUBLE) AS h_x
      FROM (
        SELECT ec, sum(ec) OVER () AS nn FROM (
          SELECT count(*) AS ec FROM {tbl} GROUP BY event_type
        )
      )
    ), chi AS (
      SELECT CAST(sum(CAST(round(power(o - r * c / n, 2) / (r * c / n), 6)
                    AS DECIMAL(18,6))) AS DOUBLE) AS chi2
      FROM (
        SELECT CAST(o AS DOUBLE) AS o,
               CAST(sum(o) OVER (PARTITION BY event_type) AS DOUBLE) AS r,
               CAST(sum(o) OVER (PARTITION BY vb) AS DOUBLE) AS c,
               CAST(sum(o) OVER () AS DOUBLE) AS n
        FROM cells
      )
    )
    SELECT round((hx.h_x - hxy.h_x_given_y) / hx.h_x, 6) AS theils_u,
           round(sqrt(chi.chi2 / (chi.chi2 + hxy.n)), 6) AS contingency,
           CAST(hxy.n AS BIGINT) AS n
    FROM hx CROSS JOIN hxy CROSS JOIN chi
"""


@query(
    "q78_theils_u_contingency",
    oracle=_Q78_SQL.format(tbl="events"),
    note="ClickHouse theilsU() + contingency() parity, completing the "
    "q55 association family: Theil's U (uncertainty coefficient "
    "(H(X) - H(X|Y)) / H(X) of event type given the value bucket) and "
    "the contingency coefficient sqrt(chi2/(chi2+n)) over the same "
    "contingency cells. The q55 determinism recipe: exact integer "
    "cells/marginals, per-cell float terms rounded then DECIMAL-summed "
    "(order-independent), identical textual derivation in both engines",
)
def q78_theils_u_contingency(spark, sf_dir):
    t(spark, sf_dir, "events").createOrReplaceTempView("cat_q78_events")
    return spark.sql(_Q78_SQL.format(tbl="cat_q78_events"))


_SPARKBAR_CHARS = "▁▂▃▄▅▆▇█"


@query(
    "q79_sparkbar",
    oracle="""
    WITH per AS (
      SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS h, count(*) AS c
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT DISTINCT p.event_type, gs.h
      FROM per p, (SELECT unnest(generate_series(0, 23)) AS h) gs
    ), filled AS (
      SELECT g.event_type, g.h, coalesce(p.c, 0) AS c0
      FROM grid g LEFT JOIN per p ON g.event_type = p.event_type AND g.h = p.h
    ), scaled AS (
      SELECT event_type, h, c0,
             max(c0) OVER (PARTITION BY event_type) AS mc
      FROM filled
    )
    SELECT event_type,
           string_agg(substr('▁▂▃▄▅▆▇█', CAST(c0 * 7 // mc AS INT) + 1, 1),
                      '' ORDER BY h) AS bar,
           CAST(sum(c0) AS BIGINT) AS n
    FROM scaled
    GROUP BY event_type
    ORDER BY event_type
    """,
    note="ClickHouse sparkbar(24)(hour, count) parity: per event type, "
    "the hour-of-day activity profile rendered as an 8-level block-"
    "character bar. Bucket counts and the 0-7 level index are pure "
    "integer arithmetic (c*7 DIV max), and both engines index the same "
    "UTF-8 ramp character-wise, so the STRING is hash-matched exactly "
    "— an aggregate whose output is a visualization, same contract as "
    "the reference's HTML result sink",
)
def q79_sparkbar(spark, sf_dir):
    e = ev(spark, sf_dir)
    per = e.groupBy("event_type", F.hour("ts_t").alias("h")).agg(
        F.count("*").alias("c")
    )
    grid = per.select("event_type").distinct().crossJoin(
        spark.range(24).select(F.col("id").cast("int").alias("h"))
    )
    filled = grid.join(per, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).alias("c0")
    )
    scaled = filled.withColumn(
        "mc", F.max("c0").over(W.partitionBy("event_type"))
    ).withColumn("ch", F.expr(f"substring('{_SPARKBAR_CHARS}', CAST(c0 * 7 DIV mc AS INT) + 1, 1)"))
    return (
        scaled.groupBy("event_type")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("h", "ch"))),
                    lambda s: s.ch,
                ),
                "",
            ).alias("bar"),
            F.sum("c0").alias("n"),
        )
        .orderBy("event_type")
    )


@query(
    "m02_binary_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           upper(substr(hex(encode(text)), 1, 8)) AS head_hex,
           md5(text) AS md5_hex
    FROM documents WHERE doc_id % 10 = 0
    ORDER BY doc_id
    """,
    note="Q27 multimodal, the hash-matched half: the binary-column "
    "metadata pipeline (byte length, magic-prefix hex — the exact "
    "expressions sniff_format uses — and content digest) exercised on "
    "text bytes so a DuckDB oracle can replay it exactly; m01 covers "
    "the codec-backed decode half rows-only. All pure JVM expressions "
    "over a BINARY column, no Python, no decode",
)
def m02_binary_metadata(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter("doc_id % 10 = 0")
    b = d.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    return b.select(
        "doc_id",
        F.length("content").cast("bigint").alias("n_bytes"),
        F.upper(F.hex(F.substring(F.col("content"), 1, 4))).alias("head_hex"),
        F.md5("content").alias("md5_hex"),
    ).orderBy("doc_id")


@query(
    "q80_group_uniq_array",
    oracle="""
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types,
           CAST(count(DISTINCT event_type) AS INT) AS n_types
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    note="ClickHouse groupUniqArray(event_type) parity: per-user distinct "
    "set, emitted as a SORTED comma-joined string (the driver's "
    "canonicalizer cannot sort array cells, and sorting makes the "
    "nondeterministic collect order irrelevant). collect_set partials "
    "combine map-side; one user-key shuffle",
)
def q80_group_uniq_array(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types"),
            F.size(F.collect_set("event_type")).alias("n_types"),
        )
        .orderBy("user_id")
    )


@query(
    "q81_bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
    note="Co-located join through engine-managed bucketed tables (the "
    "100 TB answer to every repeated fact-fact join): both sides are "
    "written bucketBy(orderkey) once, and the join then runs with ZERO "
    "Exchange — the bucketing IS the shuffle, paid at ingest. The "
    "oracle is the PLAIN join SQL, so bucketing is provably invisible "
    "in results; the zero-shuffle plan itself is pinned by "
    "tests/test_plans.py::test_bucketed_tables_join_without_shuffle",
)
def q81_bucketed_colocated_join(spark, sf_dir):
    import shutil

    tune_session(spark)
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    # always drop-and-rewrite: a tableExists guard is wrong in every
    # direction — a fresh session forgets the catalog entry while the
    # warehouse dir persists (LOCATION_ALREADY_EXISTS on rewrite), and
    # a cached table can go stale against a regenerated sf_dir. The
    # rewrite costs seconds at verify scale; at production scale the
    # ingest is a one-time pipeline step, not per-query.
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh[5:] if wh.startswith("file:") else wh
    for name, df, key in (
        ("cat_q81_orders", o, "o_orderkey"),
        ("cat_q81_lineitem", li, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)  # orphaned dir from a past session
        df.write.bucketBy(8, key).sortBy(key).saveAsTable(name)
    lb, ob = spark.table("cat_q81_lineitem"), spark.table("cat_q81_orders")
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), dsum("l_extendedprice", "total"))
        .orderBy("o_orderstatus")
    )


@query(
    "q82_stochastic_linear_regression",
    oracle="""
    WITH RECURSIVE
    consts AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM lineitem),
    it AS (
      SELECT 0 AS i, CAST(0.0 AS DOUBLE) AS w, CAST(0.0 AS DOUBLE) AS b
      UNION ALL
      SELECT i + 1,
             w - 0.5 * (2.0 / (SELECT n FROM consts)) *
               (SELECT CAST(sum(CAST(round((w * (l_quantity / 50.0) + b
                      - l_extendedprice / 100000.0) * (l_quantity / 50.0), 9)
                      AS DECIMAL(20,9))) AS DOUBLE) FROM lineitem),
             b - 0.5 * (2.0 / (SELECT n FROM consts)) *
               (SELECT CAST(sum(CAST(round(w * (l_quantity / 50.0) + b
                      - l_extendedprice / 100000.0, 9)
                      AS DECIMAL(20,9))) AS DOUBLE) FROM lineitem)
      FROM it WHERE i < 8
    )
    SELECT CAST((SELECT n FROM consts) AS BIGINT) AS n,
           round(w, 6) AS w, round(b, 6) AS b
    FROM it WHERE i = 8
    """,
    note="ClickHouse stochasticLinearRegression analog: 8 full-batch "
    "gradient-descent steps fitting scaled extendedprice ~ quantity — "
    "each step ONE algebraic aggregation (two decimal-exact gradient "
    "sums cross the shuffle), the driver holds only (w, b). The DuckDB "
    "oracle replays the identical fit as a recursive CTE (the e18 LTTB "
    "precedent): per-row terms share the textual operation order, are "
    "rounded to 9 dp and DECIMAL-summed, so every iteration's "
    "parameters match bit-for-bit by induction — an ITERATIVE "
    "algorithm under the full hash gate, not a rows-only waiver",
)
def q82_stochastic_linear_regression(spark, sf_dir):
    from laion_spark.operators.sgd import sgd_linear_fit

    li = t(spark, sf_dir, "lineitem")
    w, b, n = sgd_linear_fit(
        li,
        F.col("l_quantity") / 50.0,
        F.col("l_extendedprice") / 100000.0,
        lr=0.5,
        iters=8,
    )
    return spark.createDataFrame(
        [(n, round(w, 6), round(b, 6))], "n bigint, w double, b double"
    )


@query(
    "s09_streaming_index_ingest",
    oracle=f"""
    SELECT vec_id, label,
           round(sqrt({_L2_EMB}), 6) AS score
    FROM embeddings
    ORDER BY sqrt({_L2_EMB}), vec_id
    LIMIT 10
    """,
    note="Streaming ANN-index maintenance: embeddings replayed as a "
    "4-micro-batch stream, IVF cluster stamped IN-FLIGHT (mapInArrow "
    "per micro-batch), appended into the partition-pruned "
    "ivf_cluster=K layout via the exactly-once file sink — index "
    "freshness is one trigger behind ingest, no rebuild. The gate is "
    "end-to-end losslessness: a FULL probe (nprobe=C) over the "
    "streamed-in table must reproduce the plain brute-force top-10 "
    "(v01's oracle) exactly — any dropped/duplicated/mis-bucketed "
    "vector flips the hash",
)
def s09_streaming_index_ingest(spark, sf_dir):
    import shutil

    from laion_spark.operators.knn import knn_search_parquet
    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.streaming.windows import replay_as_stream, stream_index_ingest

    tune_session(spark)
    emb = t(spark, sf_dir, "embeddings")
    idx = IVFIndex(dim=64, n_clusters=4, n_iters=2, nprobe=4).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    # replay needs an event-time column to order micro-batches; vec_id
    # stands in (any monotone column works for the harness)
    stream = replay_as_stream(
        spark, f"{sf_dir}/embeddings.parquet", n_splits=4, ts_col="vec_id"
    )
    # deterministic per-sf dir, recreated each run — a mkdtemp here
    # would leak a full table copy per invocation
    sf_tok = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = f"/tmp/laion_s09_{sf_tok}"
    shutil.rmtree(out, ignore_errors=True)
    data_dir = stream_index_ingest(stream.drop("ts_t"), idx, out)
    # nprobe == n_clusters: the FULL probe the losslessness gate needs
    dirs = idx.probe_dirs(data_dir, QVEC64)
    res = knn_search_parquet(
        spark, dirs, QVEC64, k=10, vector_col="embedding", select=["vec_id", "label"]
    )
    return res.select("vec_id", "label", F.round("score", 6).alias("score"))


@query(
    "q83_tukey_outliers",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(quantile_cont(value, 0.25) AS DOUBLE) AS q1,
             CAST(quantile_cont(value, 0.75) AS DOUBLE) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n,
           CAST(count(*) FILTER (WHERE e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                                    OR e.value > q.q3 + 1.5 * (q.q3 - q.q1))
                AS BIGINT) AS n_outliers,
           round(q.q1, 6) AS q1, round(q.q3, 6) AS q3
    FROM events e JOIN q ON e.event_type = q.event_type
    GROUP BY e.event_type, q.q1, q.q3
    ORDER BY e.event_type
    """,
    note="ClickHouse seriesOutliersDetectTukey analog: per event type, "
    "exact quartiles (linear-interpolation percentile — IEEE-identical "
    "in both engines), Tukey fences at 1.5*IQR, and the outlier count. "
    "Two passes over events: quartile agg (5 groups) broadcast back "
    "into a counting pass — no per-row quantile state, so the shape "
    "holds at any scale",
)
def q83_tukey_outliers(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.percentile("value", 0.25).alias("q1"),
        F.percentile("value", 0.75).alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count("*").alias("n"),
            F.sum(((F.col("value") < lo) | (F.col("value") > hi)).cast("long")).alias(
                "n_outliers"
            ),
        )
        .select(
            "event_type",
            "n",
            "n_outliers",
            F.round("q1", 6).alias("q1"),
            F.round("q3", 6).alias("q3"),
        )
        .orderBy("event_type")
    )


@query(
    "q84_returned_item_reporting",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           round(c.c_acctbal, 6) AS acctbal,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    note="TPC-H Q10 shape (returned-item reporting): revenue lost to "
    "returns per customer in a quarter, 4-way join — nation broadcast, "
    "customer broadcast after its date-filtered orders semi-reduce, "
    "lineitem-orders shuffle on orderkey; exact-decimal revenue makes "
    "the DESC top-20 engine-identical",
)
def q84_returned_item_reporting(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(rev, "revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 6).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q85_promotion_effect",
    oracle="""
    SELECT round(
             100.0 * CAST(sum(CAST(CASE WHEN p.p_type = 'PROMO'
                    THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END
                    AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_revenue_pct,
           count(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
    """,
    note="TPC-H Q14 shape (promotion effect): share of one month's "
    "revenue from PROMO-type parts. part broadcasts into the pruned "
    "lineitem scan (shipdate predicate at the parquet reader), one "
    "ungrouped decimal-exact agg — zero data shuffles beyond the "
    "broadcast",
)
def q85_promotion_effect(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01 00:00:00").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return j.select(
        F.round(
            100.0
            * F.sum(promo.cast("decimal(18,6)")).cast("double")
            / F.sum(rev.cast("decimal(18,6)")).cast("double"),
            6,
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n"),
    )


@query(
    "q86_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    ORDER BY supp_nation, cust_nation, l_year
    """,
    note="TPC-H Q7 shape (volume shipping between two nations): 6-way "
    "join — supplier/customer/nation all broadcast (small dims), "
    "lineitem-orders is the single data shuffle on orderkey, then a "
    "tiny (nation-pair, year) aggregation; the nation-pair disjunction "
    "prunes after the broadcasts so no fact row joins twice",
)
def q86_volume_shipping(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19"))
            | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18"))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(rev, "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q87_national_market_share",
    oracle=f"""
    WITH all_rev AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n2.n_regionkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           round({_dsum_sql("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")}
                 / {_dsum_sql('volume')}, 6) AS mkt_share
    FROM all_rev
    GROUP BY o_year
    ORDER BY o_year
    """,
    note="TPC-H Q8 shape (national market share): one nation's share of "
    "a region's PROMO-part revenue by year — an 8-way join where every "
    "dimension broadcasts and lineitem-orders is the single data "
    "shuffle; both numerator and denominator are exact-decimal sums so "
    "the ratio divides identical doubles in both engines",
)
def q87_national_market_share(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == r.r_regionkey)
    )
    num = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(num.cast("decimal(18,6)")).cast("double")
                / F.sum(vol.cast("decimal(18,6)")).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q88_small_quantity_revenue",
    oracle=f"""
    WITH pa AS (
      SELECT l_partkey, avg(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round({_dsum_sql('l.l_extendedprice')} / 7.0, 6) AS avg_yearly,
           count(*) AS n
    FROM lineitem l
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.2 * pa.avg_qty
    """,
    note="TPC-H Q17 shape (small-quantity-order revenue): the "
    "correlated per-part average decorrelated into a pre-aggregated "
    "join side (Catalyst's own rewrite of the correlated scalar "
    "subquery) — one partkey shuffle builds the averages, AQE "
    "broadcasts the small aggregate back; avg is n<2^53-exact integer "
    "division so cross-engine double parity holds",
)
def q88_small_quantity_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    j = li.join(pa.withColumnRenamed("l_partkey", "pk"), F.col("l_partkey") == F.col("pk"))
    return j.filter(F.col("l_quantity") < 0.2 * F.col("avg_qty")).select(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double") / 7.0, 6
        ).alias("avg_yearly"),
        F.count("*").alias("n"),
    )


@query(
    "q89_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
    )
    SELECT right(c.c_name, 1) AS cntrycode,
           count(*) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY right(c.c_name, 1)
    ORDER BY cntrycode
    """,
    note="TPC-H Q22 shape (global sales opportunity): customers above "
    "the average positive balance with no URGENT orders (every synthetic customer has SOME order, so the faithful Q22 anti-set is empty — this keeps the shape non-vacuous) — an ungrouped scalar "
    "subquery (one number broadcast), then a LEFT ANTI join against "
    "orders (the NOT EXISTS decorrelation), grouped by a name-derived "
    "code. The orders scan prunes to (o_custkey, o_orderpriority)",
)
def q89_global_sales_opportunity(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    ab = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    rich = c.crossJoin(F.broadcast(ab)).filter(F.col("c_acctbal") > F.col("ab"))
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    no_orders = rich.join(urgent, rich.c_custkey == urgent.o_custkey, "left_anti")
    return (
        no_orders.groupBy(F.expr("right(c_name, 1)").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "t08_repetition_ratios",
    oracle=r"""
    WITH b AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 2
          THEN [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)]
          ELSE [] END AS g2,
        CASE WHEN len(toks) >= 3
          THEN [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]
          ELSE [] END AS g3
      FROM b
    )
    SELECT doc_id,
           1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)/len(g2) AS dup2,
           1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)/len(g3) AS dup3
    FROM g WHERE len(g3) >= 1
    ORDER BY dup2 DESC, doc_id LIMIT 100
    """,
    note="Gopher/C4-style intra-document repetition quality signal "
    "(duplicate 2-gram and 3-gram fractions): the standard pretraining "
    "filter for boilerplate / keyword stuffing / generation loops. One "
    "scan, pure JVM HOFs with the token array bound once per row "
    "(functions/text.py ngrams); output unrounded doubles — both "
    "engines divide identical IEEE ints, the driver canon rounds",
)
def t08_repetition_ratios(spark, sf_dir):
    from laion_spark.functions.text import dup_ngram_ratio

    d = t(spark, sf_dir, "documents")
    out = d.select(
        "doc_id",
        dup_ngram_ratio("text", 2).alias("dup2"),
        dup_ngram_ratio("text", 3).alias("dup3"),
    )
    return out.filter(F.col("dup3").isNotNull()).orderBy(F.col("dup2").desc(), "doc_id").limit(100)


@query(
    "d09_ngram_contamination",
    oracle=r"""
    WITH b AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 5
        THEN [array_to_string(toks[i:i+4], ' ') for i in generate_series(1, len(toks)-4)]
        ELSE [] END)) AS gram
      FROM b
    )
    SELECT gram, count(DISTINCT doc_id) AS df
    FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 3
    ORDER BY df DESC, gram LIMIT 50
    """,
    note="Cross-document 5-gram contamination scan (decontamination / "
    "boilerplate detection for training corpora): per-doc DISTINCT "
    "shingles explode into (gram, doc) pairs — unique by construction, "
    "so document frequency is a plain count(*) hash agg with map-side "
    "partials; no count-distinct state. At 100 TB this is the same "
    "one-shuffle shape as t02 corpus token frequency",
)
def d09_ngram_contamination(spark, sf_dir):
    from laion_spark.operators.dedup import shingles

    d = t(spark, sf_dir, "documents")
    g = d.select("doc_id", F.explode(shingles("text", 5)).alias("gram"))
    return (
        g.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 3)
        .orderBy(F.col("df").desc(), "gram")
        .limit(50)
    )


@query(
    "t09_stratified_sample",
    oracle="""
    SELECT doc_id, lang, source
    FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= 20
    ORDER BY lang, doc_id
    """,
    note="Deterministic stratified quota sampling — the data-mixture "
    "curation primitive (N docs per language, reproducible across "
    "runs/engines): rank within stratum by md5(doc_id), a seedless "
    "portable hash both engines spell identically. One shuffle on the "
    "stratum key; at 100 TB a skewed stratum is bounded because only "
    "rank <= quota rows survive the window's per-partition sort "
    "(TakeOrdered-per-key shape), and the q70 SAMPLE-clause op covers "
    "the unstratified case",
)
def t09_stratified_sample(spark, sf_dir):
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id")
    )
    return (
        d.select("doc_id", "lang", "source", rk.alias("rk"))
        .filter(F.col("rk") <= 20)
        .select("doc_id", "lang", "source")
        .orderBy("lang", "doc_id")
    )


@query(
    "d10_shared_window_pairs",
    oracle=r"""
    WITH b AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 5
        THEN [array_to_string(toks[i:i+4], ' ') for i in generate_series(1, len(toks)-4)]
        ELSE [] END)) AS w
      FROM b
    )
    SELECT a.doc_id AS da, c.doc_id AS db, count(*) AS shared
    FROM g a JOIN g c ON a.w = c.w AND a.doc_id < c.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    ORDER BY shared DESC, da, db
    """,
    note="Substring-level partial-copy detection (winnowing-style "
    "shared 5-token runs): catches quotation/boilerplate overlap that "
    "set-level Jaccard dilutes. Spark side shuffles hashed windows "
    "(int64) through the no-self-join group-and-expand shape; oracle "
    "counts the same distinct-window co-occurrences on strings — "
    "counts are identical (collision odds ~2^-64/pair)",
)
def d10_shared_window_pairs(spark, sf_dir):
    from laion_spark.operators.dedup import shared_window_pairs

    d = t(spark, sf_dir, "documents")
    return shared_window_pairs(d, "doc_id", "text", window=5, min_shared=2)


@query(
    "q90_disjunctive_revenue",
    oracle=f"""
    SELECT {_dsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
    note="TPC-H Q19 shape (discounted revenue under a DISJUNCTION of "
    "brand/size/quantity conjunctions — the classic OR-of-ANDs "
    "predicate that cannot be fully pushed to either scan because "
    "each disjunct spans both join sides; adapted to this schema's "
    "columns: no l_shipmode/p_container in the driver testdata). "
    "part broadcasts; the disjunction evaluates as the broadcast "
    "join's post-condition inside whole-stage codegen, so lineitem "
    "is still read once with no shuffle; revenue accumulates in "
    "DECIMAL(18,6) per the engine money-sum rule",
)
def q90_disjunctive_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    disj = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    ) | (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return j.filter(disj).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count("*").alias("n_lines"),
    )


@query(
    "e20_seasonal_decompose",
    oracle="""
    WITH hourly AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
             count(*) AS observed
      FROM events GROUP BY 1
    ), trended AS (
      SELECT hr, observed,
             avg(observed) OVER (ORDER BY hr
               ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS trend
      FROM hourly
    )
    SELECT CAST(hr % 24 AS INTEGER) AS hod,
           avg(observed - trend) AS seasonal,
           CAST(count(*) AS BIGINT) AS n_hours
    FROM trended
    GROUP BY 1 ORDER BY 1
    """,
    note="ClickHouse seriesDecomposeSTL analog, simplified to the "
    "classic additive decomposition: hourly event counts -> centered "
    "24-point moving-average trend -> per-hour-of-day mean residual = "
    "the seasonal profile. Scale shape: raw events reduce to ONE row "
    "per hour BEFORE any ordered pass, so the global window runs over "
    "the bounded series (#hours in range), never the event stream — "
    "the same pre-aggregate-then-series rule as e19's rank stats. "
    "Buckets derive from epoch micros arithmetic, immune to session "
    "timezone; the MA averages int64 counts (order-safe in double)",
)
def e20_seasonal_decompose(spark, sf_dir):
    from pyspark.sql import Window as W

    e = ev(spark, sf_dir)
    # floor, not cast-truncate: DuckDB's ``//`` floors, so pre-1970
    # (negative ts_us) events must bucket identically (ADVICE r5)
    hourly = e.groupBy(F.floor(F.col("ts_us") / F.lit(3_600_000_000)).cast("long").alias("hr")).agg(
        F.count("*").alias("observed")
    )
    w = W.orderBy("hr").rowsBetween(-11, 12)
    trended = hourly.withColumn("trend", F.avg("observed").over(w))
    return (
        trended.groupBy(F.pmod(F.col("hr"), F.lit(24)).cast("int").alias("hod"))
        .agg(
            F.avg(F.col("observed") - F.col("trend")).alias("seasonal"),
            F.count("*").alias("n_hours"),
        )
        .orderBy("hod")
    )


@query(
    "t10_corpus_filter_reasons",
    oracle=r"""
    WITH b AS (
      SELECT doc_id, n_chars,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id,
        n_chars < 100 AS too_short,
        CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS DOUBLE)
          / len(toks) < 0.01 AS low_stopword,
        CASE WHEN len(toks) >= 2 THEN
          1.0 - CAST(len(list_distinct([array_to_string(toks[i:i+1], ' ')
                                        for i in generate_series(1, len(toks)-1)])) AS DOUBLE)
                / (len(toks) - 1)
        ELSE 0.0 END > 0.1 AS repetitive
      FROM b
    )
    SELECT CASE WHEN too_short THEN 'too_short'
                WHEN low_stopword THEN 'low_stopword'
                WHEN repetitive THEN 'repetitive'
                ELSE 'kept' END AS reason,
           count(*) AS n_docs
    FROM m GROUP BY 1 ORDER BY 1
    """,
    note="C4/Gopher-style corpus filter with drop-reason accounting — "
    "the curation composite on top of M1/Q26: length gate, stopword "
    "floor, duplicate-2-gram ceiling, FIRST failing gate wins, one "
    "count per reason plus the kept bucket. One scan, pure JVM "
    "expressions, a 5-row hash agg output at any corpus size; the "
    "per-reason tallies are the monitoring surface a production "
    "pretraining pipeline alerts on",
)
def t10_corpus_filter_reasons(spark, sf_dir):
    from laion_spark.functions.text import dup_ngram_ratio, tokens as ttokens

    d = t(spark, sf_dir, "documents")
    toks = ttokens("text")
    stop = F.size(F.filter(toks, lambda x: x.isin("the", "a", "and", "of", "to")))
    m = d.select(
        (F.col("n_chars") < 100).alias("too_short"),
        (stop.cast("double") / F.size(toks) < 0.01).alias("low_stopword"),
        (F.coalesce(dup_ngram_ratio("text", 2), F.lit(0.0)) > 0.1).alias("repetitive"),
    )
    reason = (
        F.when(F.col("too_short"), "too_short")
        .when(F.col("low_stopword"), "low_stopword")
        .when(F.col("repetitive"), "repetitive")
        .otherwise("kept")
    )
    return m.groupBy(reason.alias("reason")).agg(F.count("*").alias("n_docs")).orderBy("reason")


@query(
    "q91_moving_week_revenue",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority, o_orderdate,
             sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, o_orderdate,
           CAST(rev AS DOUBLE) AS day_rev,
           CAST(sum(rev) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS DOUBLE) AS week_rev
    FROM daily
    ORDER BY o_orderpriority, o_orderdate
    """,
    note="Time-RANGE window frame (trailing 7 calendar days — NOT 7 "
    "rows: gap days must widen the frame), the rolling-metric shape "
    "ClickHouse writes with RANGE frames. Orders pre-aggregate to one "
    "row per (priority, day) before the ordered pass, so the window "
    "runs over the bounded daily series partitioned by priority — no "
    "Exchange SinglePartition. Spark lacks interval RANGE frames, so "
    "the frame orders by unix_date (days since epoch, integral) with "
    "rangeBetween(-6, 0) — value-identical to the SQL interval frame. "
    "Revenue accumulates in DECIMAL through both the daily agg and the "
    "window sum; only the output casts to double",
)
def q91_moving_week_revenue(spark, sf_dir):
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    daily = o.groupBy("o_orderpriority", F.col("o_orderdate").cast("date").alias("o_orderdate")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev")
    )
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy(F.unix_date("o_orderdate"))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "o_orderpriority",
        "o_orderdate",
        F.col("rev").cast("double").alias("day_rev"),
        F.sum("rev").over(w).cast("double").alias("week_rev"),
    ).orderBy("o_orderpriority", "o_orderdate")


@query(
    "e21_cohort_matrix",
    oracle="""
    WITH wk AS (
      SELECT user_id, (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) // 7 AS week
      FROM events
    ), first AS (
      SELECT user_id, min(week) AS cohort FROM wk GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, week FROM wk
    )
    SELECT f.cohort, CAST(a.week - f.cohort AS INTEGER) AS week_offset,
           count(*) AS n_users
    FROM activity a JOIN first f ON a.user_id = f.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    note="Cohort retention matrix (first-seen week x weeks-since x "
    "distinct active users) — the product-analytics staple that "
    "ClickHouse users assemble from minIf + uniq per offset; here one "
    "min-per-user pass, one distinct (user, week) pass, an equi-join "
    "on the user key and a tiny final agg. (user, week) is unique "
    "after the distinct, so n_users is a plain count(*). Weeks are "
    "integer epoch-day arithmetic — tz-immune, identical both engines",
)
def e21_cohort_matrix(spark, sf_dir):
    e = ev(spark, sf_dir)
    # double-floor matches DuckDB's ``//`` chain for all sign ranges
    # (cast-truncate diverged pre-1970; ADVICE r5)
    wk = e.select(
        "user_id",
        F.floor(F.floor(F.col("ts_us") / F.lit(86_400_000_000)) / F.lit(7)).cast("long").alias("week"),
    )
    first = wk.groupBy("user_id").agg(F.min("week").alias("cohort"))
    activity = wk.distinct()
    return (
        activity.join(first, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).cast("int").alias("week_offset"))
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort", "week_offset")
    )


@query(
    "t11_vocab_growth",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT source,
           count(*) AS total_tokens,
           count(DISTINCT tok) AS vocab,
           round(count(DISTINCT tok) / CAST(count(*) AS DOUBLE), 6) AS ttr
    FROM toks GROUP BY source ORDER BY source
    """,
    note="Per-source vocabulary growth (Heaps'-law inputs): total token "
    "mass, distinct vocabulary, and type-token ratio per corpus source "
    "— the corpus-quality scan that flags templated/synthetic sources "
    "(abnormally low TTR) before training. Scale shape: one explode + "
    "one hash aggregate; count_distinct runs as partial aggregation "
    "over (source, tok) then per-source count — no driver-side state, "
    "no window. Tokenization parity with the oracle's string_split is "
    "pinned by d08 (same split-on-space contract).",
)
def t11_vocab_growth(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    return (
        toks.groupBy("source")
        .agg(
            F.count("*").alias("total_tokens"),
            F.count_distinct("tok").alias("vocab"),
        )
        .select(
            "source",
            "total_tokens",
            "vocab",
            F.round(F.col("vocab") / F.col("total_tokens").cast("double"), 6).alias("ttr"),
        )
        .orderBy("source")
    )


@query(
    "d11_dedup_survivors",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents WHERE doc_id < 100
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT da, db
      FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.4
    ), edges AS (
      SELECT da AS a, db AS b FROM pairs UNION ALL SELECT db, da FROM pairs
    ), reach AS (
      SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
      SELECT a AS id, min(b) AS comp FROM reach GROUP BY a
    ), labeled AS (
      SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp, d.n_chars
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
      WHERE d.doc_id < 100
    ), surv AS (
      SELECT comp, doc_id AS survivor_id,
             row_number() OVER (PARTITION BY comp
               ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM labeled
    )
    SELECT l.doc_id, l.comp, s.survivor_id,
           CAST(l.doc_id = s.survivor_id AS INTEGER) AS is_survivor
    FROM labeled l JOIN surv s ON l.comp = s.comp AND s.rn = 1
    ORDER BY l.doc_id
    """,
    note="Near-dup SURVIVOR SELECTION — the canonicalization step a "
    "training pipeline runs after clustering (keep the highest-quality "
    "doc per dup cluster, here max n_chars then min doc_id): jaccard "
    "pairs -> connected components (d08's min-label fixpoint) -> "
    "left-join back so singletons survive as themselves -> one "
    "max(struct) aggregate per component picks the survivor "
    "deterministically. Scale shape: the argmax is an algebraic "
    "partial aggregate on the component key (no window over raw "
    "docs); components are d08's checkpoint-truncated propagation. "
    "Oracle: recursive-CTE closure + row_number survivor — both "
    "engines must agree on clusters AND tie-breaks.",
)
def d11_dedup_survivors(spark, sf_dir):
    from laion_spark.operators.dedup import connected_components, jaccard_similar_pairs

    d = t(spark, sf_dir, "documents").filter("doc_id < 100")
    pairs = jaccard_similar_pairs(d, id_col="doc_id", text_col="text", ngram=1, threshold=0.4)
    comps = connected_components(pairs, "da", "db")
    labeled = (
        d.select("doc_id", "n_chars")
        .join(comps, d.doc_id == comps.id, "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("comp"),
            F.col("n_chars"),
        )
    )
    surv = labeled.groupBy("comp").agg(
        F.max(F.struct(F.col("n_chars").alias("q"), (-F.col("doc_id")).alias("neg"))).alias("b")
    )
    return (
        labeled.join(surv, "comp")
        .select(
            "doc_id",
            "comp",
            (-F.col("b.neg")).cast("long").alias("survivor_id"),
            (F.col("doc_id") == -F.col("b.neg")).cast("int").alias("is_survivor"),
        )
        .orderBy("doc_id")
    )


@query(
    "t12_sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), run AS (
      SELECT doc_id, source, n_tok,
             coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM toks
    )
    SELECT source, CAST(prior // 256 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_tok) AS BIGINT) AS bin_tokens
    FROM run GROUP BY 1, 2 ORDER BY 1, 2
    """,
    note="Sequence packing for training prep: documents are laid into "
    "fixed token-budget bins (256 here) per source in deterministic "
    "doc_id order — the running-total chunking used to assemble "
    "context-length training sequences from variable-length docs. One "
    "exclusive-prefix window per source then a hash agg on (source, "
    "bin). Scale shape: the ordered pass IS the packing contract; at "
    "corpus scale, range-partition by (source, doc_id) so each "
    "partition's window is local — the same pre-partitioned-window "
    "rule as q91's RANGE frames. Token counts via split-on-space, "
    "parity pinned by d08/t11.",
)
def t12_sequence_packing(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    run = (
        d.select("doc_id", "source", F.size(F.split("text", " ")).alias("n_tok"))
        .withColumn("prior", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    )
    return (
        run.groupBy("source", F.floor(F.col("prior") / F.lit(256)).cast("long").alias("bin"))
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_tok").cast("long").alias("bin_tokens"),
        )
        .orderBy("source", "bin")
    )


@query(
    "t13_unigram_nll_quality",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), freq AS (
      SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ), tot AS (
      SELECT count(*) AS n FROM toks
    ), doc_nll AS (
      SELECT t.doc_id, t.lang,
             avg(-ln(f.c / CAST(tot.n AS DOUBLE))) AS nll
      FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN tot
      GROUP BY t.doc_id, t.lang
    )
    SELECT lang, CAST(floor(nll) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS docs,
           round(avg(nll), 6) AS avg_nll
    FROM doc_nll GROUP BY 1, 2 ORDER BY 1, 2
    """,
    note="Unigram-LM negative-log-likelihood quality score — the "
    "perplexity-proxy filter (KenLM-style) a training pipeline uses to "
    "drop out-of-distribution text, self-trained on the corpus: token "
    "frequencies -> per-doc mean -ln p(tok) -> per-lang NLL histogram. "
    "Scale shape: the unigram table is vocabulary-sized (bounded, "
    "broadcast-joined to the token stream — no shuffle of the corpus "
    "side), the grand total is a 1-row agg cross-joined in, and the "
    "per-doc avg is one hash agg on doc_id. Double-log parity: ULP "
    "differences in ln sum to ~1e-15 over a doc, far under the "
    "round(6) grain.",
)
def t13_unigram_nll_quality(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot = toks.agg(F.count("*").alias("n"))
    doc_nll = (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(F.avg(-F.log(F.col("c") / F.col("n").cast("double"))).alias("nll"))
    )
    return (
        doc_nll.groupBy("lang", F.floor("nll").cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("docs"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
        )
        .orderBy("lang", "bucket")
    )


@query(
    "s10_streaming_upsert_final",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type, round(value, 6) AS last_value
    FROM ranked WHERE rn = 1 ORDER BY user_id, event_type
    """,
    note="Streaming upsert, the ReplacingMergeTree ingest model end to "
    "end: the event stream appends immutable parts through the "
    "exactly-once file sink (no stream state, no watermark — the sink "
    "manifest is the delivery guarantee), and keep-last semantics "
    "resolve at READ time via replacing_final (one key shuffle, "
    "WindowGroupLimit keeps each partition's winner) — the same "
    "append-parts + FINAL contract q50 checks on static data, here "
    "driven through a real micro-batch replay. Scale shape: ingest "
    "never rewrites (append-only), dedup cost is paid by readers that "
    "ask for FINAL, identical to ClickHouse.",
)
def s10_streaming_upsert_final(spark, sf_dir):
    import tempfile

    from laion_spark.operators.mergetree import replacing_final
    from laion_spark.streaming.windows import replay_as_stream

    tune_session(spark)
    stream = replay_as_stream(spark, f"{sf_dir}/events.parquet", n_splits=4)
    sink = tempfile.mkdtemp(prefix="laion_upsert_sink_")
    ck = tempfile.mkdtemp(prefix="laion_upsert_ck_")
    q = (
        stream.selectExpr(
            "user_id", "event_type", "value", "unix_micros(ts_t) AS ver", "event_id"
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    parts = spark.read.parquet(sink)
    out = replacing_final(parts, ["user_id", "event_type"], "ver", tiebreak=["event_id"])
    return out.select(
        "user_id", "event_type", F.round("value", 6).alias("last_value")
    ).orderBy("user_id", "event_type")


@query(
    "x03_etl_direct_sink",
    # identical expected table to x01 — the direct sink must be
    # content-equivalent to the generic-sink pipeline
    oracle=REGISTRY["x01_etl_shard_assembly"].oracle,
    note="X-series ETL with the sink INSIDE the task (full process.py "
    "parity — each reference worker writes its own shard file, "
    "process.py:49-50): Arrow batches stream straight into a per-shard "
    "pyarrow ParquetWriter, never converting to JVM rows (measured "
    "~2.7x the generic sink's throughput at 768-d, same bytes). The "
    "oracle is x01's closed-form regeneration, read back from the "
    "written files — proving the round-trip, not just the assembly.",
)
def x03_etl_direct_sink(spark, sf_dir):
    import tempfile

    from laion_spark.sources.npy import etl_shards_to_parquet

    tune_session(spark)
    out = tempfile.mkdtemp(prefix="laion_etl_direct_")
    etl_shards_to_parquet(spark, _etl_fixture(), out, dim=_ETL_DIM).collect()
    fact = spark.read.parquet(out)
    acc = F.lit(0.0)
    return fact.select(
        "key",
        "caption",
        "width",
        "height",
        F.element_at("exif", "make").alias("exif_make"),
        F.size("exif").alias("n_exif"),
        F.round(F.element_at("image_embedding", 1).cast("double"), 6).alias("img0"),
        F.round(F.aggregate("image_embedding", acc, lambda a, x: a + x), 6).alias("img_sum"),
        F.round(F.aggregate("text_embedding", acc, lambda a, x: a + x), 6).alias("txt_sum"),
        F.round("similarity", 6).alias("similarity"),
    ).orderBy("key")


# --- TPC-H completion (round 6): the seven remaining query shapes -----------
#
# Q2, Q9, Q11, Q12, Q16, Q20, Q21 — with these, every one of the 22
# TPC-H query shapes has an oracle-backed registry entry (reference
# parity: ClickHouse executes the full TPC-H suite through its SQL
# layer; see SURVEY §2.9). The test schema has no partsupp table, so
# its role (per part-supplier supply cost / available quantity) is
# reconstructed deterministically from lineitem: supply cost = the
# minimum unit price (floored to whole cents) ever charged by that
# supplier for that part, availqty = decimal-exact total quantity.
# The cent arithmetic is deliberate: a raw price/qty quotient has
# unbounded decimal scale, so its scale-2/scale-6 roundings sit
# arbitrarily close to ties where Spark's exact-expansion HALF_UP and
# DuckDB's scale-multiply-then-llround diverge by 1 ulp (observed:
# min 615.095 → 615.09 vs 615.10). floor(round(price*100)/qty) is
# exact in BOTH engines: price*100 is integral (2dp prices), and with
# qty ≤ 50 the true quotient is ≥ 1/50 away from any integer unless
# exactly integral — no FP boundary to disagree on.

_PS_SQL = """
      SELECT l_partkey, l_suppkey,
             min(floor(round(l_extendedprice * 100) / l_quantity)) / 100.0 AS ps_supplycost,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS ps_availqty
      FROM lineitem GROUP BY l_partkey, l_suppkey
"""


def _pseudo_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partsupp stand-in derived from lineitem (see block comment).

    One shuffle on (l_partkey, l_suppkey); at 100 TB this is the same
    hash-aggregate any partsupp build pays, and every consumer below
    joins it on l_partkey or l_suppkey so AQE can reuse the exchange.
    """
    li = t(spark, sf_dir, "lineitem")
    cents = F.floor(F.round(F.col("l_extendedprice") * 100, 0) / F.col("l_quantity"))
    return li.groupBy("l_partkey", "l_suppkey").agg(
        (F.min(cents) / F.lit(100.0)).alias("ps_supplycost"),
        dsum("l_quantity", "ps_availqty"),
    )


@query(
    "q92_late_shipment_priority",
    oracle="""
    SELECT l.l_returnflag AS ship_mode,
           count(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT','2-HIGH')) AS high_line_count,
           count(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_returnflag
    ORDER BY ship_mode
    """,
    note="TPC-H Q12 shape (shipping modes & order priority; adapted — "
    "this schema has no l_shipmode/commitdate, so the mode is "
    "l_returnflag and 'late' is shipped >90 days after the order "
    "date): one orderkey shuffle join, conditional BIGINT counts, "
    "3-row output. Counts are exact so the hash match is trivial.",
)
def q92_late_shipment_priority(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        j.groupBy(F.col("l_returnflag").alias("ship_mode"))
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("ship_mode")
    )


@query(
    "q93_product_type_profit",
    oracle=f"""
    WITH ps AS ({_PS_SQL})
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount) - ps.ps_supplycost * l.l_quantity')} AS sum_profit
    FROM lineitem l
    JOIN ps ON ps.l_partkey = l.l_partkey AND ps.l_suppkey = l.l_suppkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY n.n_name, year(o.o_orderdate)
    ORDER BY nation, o_year DESC
    """,
    note="TPC-H Q9 shape (product-type profit): profit = revenue minus "
    "supply cost per line, grouped by supplier nation x order year. "
    "part/supplier/nation broadcast; ps joins lineitem on its own "
    "grouping key (exchange reuse); lineitem-orders is the one big "
    "shuffle. Addends decimal-cast so partial-aggregate order can't "
    "move a rounding boundary.",
)
def q93_product_type_profit(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    ps = _pseudo_partsupp(spark, sf_dir)
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    n = t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    )
    return (
        li.join(ps, ["l_partkey", "l_suppkey"])
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum(profit, "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "q94_supplier_part_counts",
    oracle=f"""
    WITH ps AS ({_PS_SQL})
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    note="TPC-H Q16 shape (parts/supplier relationship): distinct "
    "supplier counts per (brand, type, size) over the pseudo-partsupp "
    "relation, excluding suppliers with negative balances (the "
    "customer-complaints NOT IN — a broadcast anti-join over a "
    "100-row dim, never a shuffle). part broadcasts into ps; the only "
    "shuffle is the final small-group distinct aggregate.",
)
def q94_supplier_part_counts(spark, sf_dir):
    ps = _pseudo_partsupp(spark, sf_dir)
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "q95_waiting_orders",
    oracle="""
    WITH li AS (
      SELECT l.l_orderkey, l.l_suppkey,
             (l.l_shipdate > o.o_orderdate + INTERVAL 150 DAY) AS late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    st AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS nsupp,
             count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nlate
      FROM li GROUP BY l_orderkey
    )
    SELECT s.s_name, count(DISTINCT li.l_orderkey) AS numwait
    FROM li
    JOIN st ON st.l_orderkey = li.l_orderkey
    JOIN supplier s ON s.s_suppkey = li.l_suppkey
    WHERE li.late AND st.nsupp > 1 AND st.nlate = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
    note="TPC-H Q21 shape (suppliers who kept orders waiting; 'late' "
    "adapted to shipped >150 days after order date): the classic "
    "EXISTS / NOT EXISTS double correlation, expressed as one "
    "per-order distinct-supplier aggregate re-joined to the lines — "
    "Spark computes both correlated subqueries in a single shuffle "
    "on l_orderkey instead of two more self-joins, which is the plan "
    "you want at 100 TB (orders' line sets stay co-located).",
)
def q95_waiting_orders(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = t(spark, sf_dir, "supplier")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 150 DAYS")).alias("late"),
        )
    )
    st = base.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("nsupp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("nlate"),
    )
    return (
        base.filter(F.col("late"))
        .join(st, "l_orderkey")
        .filter((F.col("nsupp") > 1) & (F.col("nlate") == 1))
        .join(F.broadcast(s), base.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@query(
    "q96_important_part_value",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    val AS (
      SELECT ps.l_partkey AS p_partkey,
             {_dsum_sql('ps.ps_supplycost * ps.ps_availqty')} AS part_value
      FROM ps
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY ps.l_partkey
    )
    SELECT p_partkey, round(part_value, 6) AS part_value
    FROM val
    WHERE part_value > (
      SELECT CAST(0.001 AS DOUBLE) * CAST(sum(CAST(part_value AS DECIMAL(18,6))) AS DOUBLE)
      FROM val
    )
    ORDER BY part_value DESC, p_partkey
    """,
    note="TPC-H Q11 shape (important stock identification): per-part "
    "inventory value restricted to one region's suppliers, kept only "
    "above a fraction of the global total. The scalar subquery is a "
    "single-row broadcast cross-join (no second scan of lineitem — "
    "the per-part aggregate is reused for the total), and the "
    "threshold itself is decimal-exact so the > boundary is "
    "engine-identical.",
)
def q96_important_part_value(spark, sf_dir):
    ps = _pseudo_partsupp(spark, sf_dir)
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    val = (
        ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(dsum(F.col("ps_supplycost") * F.col("ps_availqty"), "part_value"))
    )
    thr = val.agg(
        (
            F.lit(0.001) * F.sum(F.col("part_value").cast("decimal(18,6)")).cast("double")
        ).alias("_thr")
    )
    return (
        val.crossJoin(F.broadcast(thr))
        .filter(F.col("part_value") > F.col("_thr"))
        .select("p_partkey", F.round("part_value", 6).alias("part_value"))
        .orderBy(F.desc("part_value"), "p_partkey")
    )


@query(
    "q97_excess_quantity_suppliers",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    yr AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS year_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_name, round(s.s_acctbal, 6) AS acctbal, n.n_name AS nation
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
      SELECT ps.l_suppkey
      FROM ps
      JOIN yr ON yr.l_partkey = ps.l_partkey AND yr.l_suppkey = ps.l_suppkey
      JOIN part p ON p.p_partkey = ps.l_partkey
      WHERE p.p_name LIKE '%bolt%'
        AND ps.ps_availqty > CAST(2.5 AS DOUBLE) * yr.year_qty
    )
    ORDER BY s_name
    """,
    note="TPC-H Q20 shape (potential part promotion / excess "
    "inventory): suppliers whose total shipped quantity of a named "
    "part family exceeds 2.5x what they moved in 1997 — the nested "
    "IN chain becomes ps joined to the date-pruned year aggregate on "
    "its own grouping key, then a LEFT SEMI broadcast into the "
    "100-row supplier dim. Both aggregates shuffle on the same "
    "(partkey, suppkey) so the join is exchange-aligned.",
)
def q97_excess_quantity_suppliers(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    ps = _pseudo_partsupp(spark, sf_dir)
    yr = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum("l_quantity", "year_qty"))
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    qual = (
        ps.join(yr, ["l_partkey", "l_suppkey"])
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .filter(F.col("ps_availqty") > F.lit(2.5) * F.col("year_qty"))
        .select("l_suppkey")
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(qual.distinct()), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", F.round("s_acctbal", 6).alias("acctbal"), F.col("n_name").alias("nation"))
        .orderBy("s_name")
    )


@query(
    "q98_min_cost_supplier",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    cost AS (
      SELECT ps.l_partkey, ps.l_suppkey, ps.ps_supplycost
      FROM ps JOIN eu ON eu.s_suppkey = ps.l_suppkey
    )
    SELECT round(eu.s_acctbal, 6) AS acctbal, eu.s_name, eu.n_name AS nation,
           p.p_partkey, p.p_name, round(c.ps_supplycost, 6) AS supplycost
    FROM part p
    JOIN cost c ON c.l_partkey = p.p_partkey
    JOIN eu ON eu.s_suppkey = c.l_suppkey
    WHERE p.p_size = 9
      AND c.ps_supplycost = (
        SELECT min(c2.ps_supplycost) FROM cost c2 WHERE c2.l_partkey = p.p_partkey
      )
    ORDER BY acctbal DESC, nation, s_name, p_partkey
    LIMIT 25
    """,
    note="TPC-H Q2 shape (minimum-cost supplier): for each size-9 "
    "part, the cheapest EU supplier(s). The correlated MIN subquery "
    "is a per-part min aggregate joined back on (partkey, cost) — "
    "cost values are engine-identical doubles from the same MIN set, "
    "so the equality join is exact. Every dim broadcasts; the only "
    "shuffles are the ps build and its per-part min, both keyed on "
    "l_partkey (exchange reuse).",
)
def q98_min_cost_supplier(spark, sf_dir):
    ps = _pseudo_partsupp(spark, sf_dir)
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = ps.join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey).select(
        "l_partkey", "l_suppkey", "ps_supplycost"
    )
    mc = cost.groupBy("l_partkey").agg(F.min("ps_supplycost").alias("_min_cost"))
    p = t(spark, sf_dir, "part").filter(F.col("p_size") == 9)
    return (
        cost.join(mc, "l_partkey")
        .filter(F.col("ps_supplycost") == F.col("_min_cost"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(eu), F.col("l_suppkey") == eu.s_suppkey)
        .select(
            F.round("s_acctbal", 6).alias("acctbal"),
            "s_name",
            F.col("n_name").alias("nation"),
            "p_partkey",
            "p_name",
            F.round("ps_supplycost", 6).alias("supplycost"),
        )
        .orderBy(F.desc("acctbal"), "nation", "s_name", "p_partkey")
        .limit(25)
    )


# --- Round-6 tail (enter the r7 verification window): containment dedup,
# Zipf corpus health, counter-rate derivative ------------------------------


@query(
    "d12_containment_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents WHERE doc_id < 100
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT da, db, round(CAST(i AS DOUBLE) / sa.n, 6) AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = da
    ORDER BY CAST(i AS DOUBLE) / sa.n DESC, da, db
    LIMIT 25
    """,
    note="Asymmetric shingle containment |A∩B|/|A| (Broder's "
    "resemblance/containment companion to d03's Jaccard): catches a "
    "short document copied INTO a longer one, which Jaccard dilutes "
    "via the union. Ordered pairs, same explode→equi-join→count "
    "skeleton (never all-pairs); the contained side's size is the "
    "only extra join. Ratio of small integer counts → 6 dp rounding "
    "is tie-free in both engines.",
)
def d12_containment_pairs(spark, sf_dir):
    from laion_spark.operators.dedup import containment_pairs

    d = t(spark, sf_dir, "documents").filter("doc_id < 100")
    return containment_pairs(d, id_col="doc_id", text_col="text", ngram=1, top=25)


@query(
    "t14_zipf_slope",
    oracle="""
    WITH freq AS (
      SELECT source, tok, count(*) AS f
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY source, tok
    ), ranked AS (
      SELECT source,
             CAST(floor(ln(row_number() OVER (PARTITION BY source
                          ORDER BY f DESC, tok)) * 1000000) AS BIGINT) AS x6,
             CAST(floor(ln(f) * 1000000) AS BIGINT) AS y6,
             row_number() OVER (PARTITION BY source ORDER BY f DESC, tok) AS r
      FROM freq
    ), s AS (
      SELECT source, count(*) AS n,
             CAST(sum(x6) AS DOUBLE) AS sx, CAST(sum(y6) AS DOUBLE) AS sy,
             CAST(sum(x6 * y6) AS DOUBLE) AS sxy, CAST(sum(x6 * x6) AS DOUBLE) AS sxx
      FROM ranked WHERE r <= 100 GROUP BY source
    )
    SELECT source, n AS n_ranks,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
    FROM s ORDER BY source
    """,
    note="Per-source Zipf rank-frequency slope (ln f ~ ln rank least "
    "squares over the top-100 ranks): natural text sits near -1; "
    "templated/synthetic sources flatten or steepen — the corpus-mix "
    "health check next to t11's Heaps TTR. Determinism: ln values are "
    "scaled to integer micro-units with floor (IEEE multiply + floor "
    "on identical doubles — no decimal-cast ties), all sums are exact "
    "integer arithmetic, one double division at the end. One explode "
    "+ two hash aggregates + a per-source (≤ vocab-size) window.",
)
def t14_zipf_slope(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    freq = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("f"))
    )
    w = W.partitionBy("source").orderBy(F.desc("f"), "tok")
    ranked = freq.select(
        "source",
        F.floor(F.log(F.row_number().over(w)) * 1000000).alias("x6"),
        F.floor(F.log("f") * 1000000).alias("y6"),
        F.row_number().over(w).alias("r"),
    ).filter(F.col("r") <= 100)
    s = ranked.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x6").cast("double").alias("sx"),
        F.sum("y6").cast("double").alias("sy"),
        F.sum(F.col("x6") * F.col("y6")).cast("double").alias("sxy"),
        F.sum(F.col("x6") * F.col("x6")).cast("double").alias("sxx"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "source", F.col("n").alias("n_ranks"), F.round(slope, 6).alias("zipf_slope")
    ).orderBy("source")


@query(
    "e22_nonnegative_derivative",
    oracle="""
    WITH d AS (
      SELECT user_id, event_id,
             CAST(round((value - lag(value) OVER w) * 100) AS BIGINT) AS dv_cents,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS td_us
      FROM events WHERE user_id < 30
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
    )
    SELECT user_id, event_id,
           CAST(floor(dv_cents * 1000000.0 / td_us) AS BIGINT) AS rate_ucents_per_sec
    FROM d
    WHERE dv_cents >= 0 AND td_us > 0
    ORDER BY user_id, event_id
    """,
    note="ClickHouse nonNegativeDerivative parity: per user in "
    "event-time order, the value's rate of change per second, "
    "emitting only non-negative deltas (counter resets and the "
    "partition's first row are skipped). Determinism: value is a 2dp "
    "amount, so the lag delta converts exactly to integer cents; the "
    "rate is integer-micro-cents-per-second via IEEE division + floor "
    "of identical doubles — no decimal rounding anywhere. One shuffle "
    "on user_id.",
)
def e22_nonnegative_derivative(spark, sf_dir):
    e = ev(spark, sf_dir).filter(F.col("user_id") < 30)
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    dv_cents = F.round((F.col("value") - F.lag("value").over(w)) * 100, 0).cast("long")
    td_us = F.col("ts_us") - F.lag("ts_us").over(w)
    d = e.select("user_id", "event_id", dv_cents.alias("dv_cents"), td_us.alias("td_us"))
    return (
        d.filter((F.col("dv_cents") >= 0) & (F.col("td_us") > 0))
        .select(
            "user_id",
            "event_id",
            F.floor(F.col("dv_cents") * F.lit(1000000.0) / F.col("td_us"))
            .cast("long")
            .alias("rate_ucents_per_sec"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "t15_bpe_pair_counts",
    oracle="""
    SELECT pair, count(*) AS n
    FROM (
      SELECT unnest([lst[i] || ' ' || lst[i + 1] for i in range(1, len(lst))]) AS pair
      FROM (SELECT string_split(text, ' ') AS lst FROM documents)
    )
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """,
    note="BPE merge-candidate scan (tokenizer training, step 1): the "
    "top adjacent-token-pair counts over the corpus multiset — the "
    "statistic each byte-pair-encoding merge iteration maximizes. "
    "Pairs come from the HOF-safe ngrams() (token array bound once, "
    "concat_ws per index); one explode + one hash aggregate + "
    "TakeOrdered — at 100 TB the aggregate runs map-side partial on "
    "(pair) and only the merged counts shuffle.",
)
def t15_bpe_pair_counts(spark, sf_dir):
    from laion_spark.functions.text import ngrams

    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(ngrams("text", 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


@query(
    "q99_ks_test",
    oracle="""
    WITH per_v AS (
      SELECT value,
             count(*) FILTER (WHERE event_type = 'click') AS c1,
             count(*) FILTER (WHERE event_type = 'view') AS c2
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY value
    ), cum AS (
      SELECT CAST(sum(c1) OVER (ORDER BY value) AS BIGINT) AS f1,
             CAST(sum(c2) OVER (ORDER BY value) AS BIGINT) AS f2
      FROM per_v
    ), tot AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      FROM per_v
    )
    SELECT n1, n2,
           CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS d_scaled,
           round(CAST(max(abs(f1 * n2 - f2 * n1)) AS DOUBLE)
                 / CAST(n1 * n2 AS DOUBLE), 6) AS ks_d
    FROM cum, tot
    GROUP BY n1, n2
    """,
    note="Two-sample Kolmogorov-Smirnov test (ClickHouse "
    "kolmogorovSmirnovTest): D = sup |ECDF1 - ECDF2| between the "
    "click and view value distributions. The ECDFs are INCLUSIVE "
    "cumulative counts in global value order via global_prefix_sum — "
    "the same distributed prefix-sum machinery behind e19's "
    "Mann-Whitney ranks, never an Exchange SinglePartition. The "
    "statistic is kept in exact integers (d_scaled = max|f1*n2 - "
    "f2*n1|, the sup scaled by n1*n2) so the hash comparison rides "
    "on integer arithmetic; ks_d is one double division at the end.",
)
def q99_ks_test(spark, sf_dir):
    from laion_spark.operators.prefix import global_prefix_sum

    e = ev(spark, sf_dir).filter(F.col("event_type").isin("click", "view"))
    per_v = e.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("c1"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("c2"),
    )
    # fused two-column form (r15, guide §2.4): one quantile pass, one
    # bucket window, one totals collect for BOTH ECDFs — the chained
    # form re-evaluated per_v's whole lineage for the second call's
    # quantile and totals actions and paid a second window Exchange.
    # Values identical: each sum is an independent fold in value order.
    r = global_prefix_sum(per_v, ["value"], ["c1", "c2"], ["f1", "f2"], exclusive=False)
    tot = per_v.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    return (
        r.crossJoin(F.broadcast(tot))
        .select(
            "n1",
            "n2",
            F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")).alias("ds"),
        )
        .groupBy("n1", "n2")
        .agg(F.max("ds").alias("d_scaled"))
        .select(
            "n1",
            "n2",
            "d_scaled",
            F.round(
                F.col("d_scaled").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"),
                6,
            ).alias("ks_d"),
        )
    )


@query(
    "m03_binary_exact_dedup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id % 50 = 0
    ), b AS (
      SELECT doc_id, md5(text) AS md5_hex,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM corpus
    )
    SELECT md5_hex, n_bytes,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS survivor_id
    FROM b
    GROUP BY md5_hex, n_bytes
    HAVING count(*) > 1
    ORDER BY md5_hex
    """,
    note="Binary-content exact dedup (LAION pipeline step 1 for "
    "images: drop byte-identical files before any decode): digest + "
    "length over the opaque BINARY column, duplicate groups with a "
    "deterministic min-id survivor. Same text-bytes twin as m02 so "
    "the oracle replays exactly; the corpus has no byte-identical "
    "docs, so a deterministic replica of every 50th doc is unioned in "
    "on BOTH sides (x01's closed-form-construction technique) to make "
    "the duplicate groups real rather than vacuous. Scale shape: the "
    "shuffle moves (digest, length, id) — ~48 bytes/row — never the "
    "blobs; at 100 TB of images this is the only affordable first "
    "pass.",
)
def m03_binary_exact_dedup(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    rep = d.filter("doc_id % 50 = 0").select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    b = d.unionByName(rep).select(
        "doc_id",
        F.md5(F.encode("text", "UTF-8")).alias("md5_hex"),
        F.length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes"),
    )
    return (
        b.groupBy("md5_hex", "n_bytes")
        .agg(
            F.count("*").cast("bigint").alias("n_copies"),
            F.min("doc_id").cast("bigint").alias("survivor_id"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("md5_hex")
    )


@query(
    "q100_cube_grouping_sets",
    oracle="""
    SELECT coalesce(o_orderstatus, '<all>') AS status,
           coalesce(o_orderpriority, '<all>') AS priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY g_status, g_priority, status, priority
    """,
    note="CUBE / GROUPING SETS parity (ClickHouse GROUP BY CUBE + "
    "grouping()): every subtotal combination in ONE pass — Spark's "
    "Expand operator replicates each input row once per grouping set "
    "BEFORE the single hash aggregate, so the cube costs one shuffle "
    "regardless of how many subtotal levels it emits. grouping() "
    "flags disambiguate real NULL groups from subtotal rows; the "
    "<all> coalesce keeps the output scalar-typed for the driver "
    "canon.",
)
def q100_cube_grouping_sets(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            # grouping() is only resolvable inside the grouping
            # aggregate itself, not a downstream Project
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count("*").alias("n"),
            dsum("o_totalprice", "total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "g_status",
            "g_priority",
            "n",
            "total",
        )
        .orderBy("g_status", "g_priority", "status", "priority")
    )


@query(
    "x04_schema_evolution_scan",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus ELSE '<pre-evolution>' END
             AS status,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
    note="Schema-evolution read path (ClickHouse ALTER TABLE ADD "
    "COLUMN: old parts simply lack the column and read as NULL/"
    "default): two part directories written under DIFFERENT schemas "
    "(the second adds a column), scanned as one table with "
    "mergeSchema — rows from pre-evolution parts surface NULL, "
    "coalesced to a default. The oracle is the closed-form "
    "regeneration from orders (x01's technique), so the round-trip "
    "through the evolved layout is what's verified. At scale this is "
    "footer-merge only — no data rewrite, same as ClickHouse parts.",
)
def x04_schema_evolution_scan(spark, sf_dir):
    import tempfile

    tune_session(spark)
    o = t(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="laion_evo_")
    o.filter("o_orderkey % 2 = 0").select("o_orderkey", "o_totalprice").write.mode(
        "overwrite"
    ).parquet(base + "/v1")
    o.filter("o_orderkey % 2 = 1").select(
        "o_orderkey", "o_totalprice", F.col("o_orderstatus").alias("status")
    ).write.mode("overwrite").parquet(base + "/v2")
    m = spark.read.option("mergeSchema", "true").parquet(base + "/v1", base + "/v2")
    return (
        m.groupBy(F.coalesce("status", F.lit("<pre-evolution>")).alias("status"))
        .agg(F.count("*").alias("n"), dsum("o_totalprice", "total"))
        .orderBy("status")
    )


# --- round-6 session-5 additions (r7 verification queue): corpus dedup
# end-to-end, LM-quality scoring, and the bitmap/geo/string-distance
# function families (reference scope: ClickHouse groupBitmap*,
# greatCircleDistance, editDistance — all re-expressed relationally).


@query(
    "d13_dedup_survivor_retention",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents WHERE doc_id < 100
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT da, db
      FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.4
    ), edges AS (
      SELECT da AS a, db AS b FROM pairs UNION ALL SELECT db, da FROM pairs
    ), reach AS (
      SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
      SELECT a AS id, min(b) AS comp FROM reach GROUP BY a
    ), j AS (
      SELECT d.doc_id, d.source, coalesce(c.comp, d.doc_id) AS comp
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
      WHERE d.doc_id < 100
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id = comp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(CAST(sum(CASE WHEN doc_id = comp THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS keep_ratio
    FROM j GROUP BY source ORDER BY source
    """,
    note="The dedup pipeline END-TO-END (d03 pairs -> d08 components -> "
    "survivor selection -> corpus retention): survivor = the min-id "
    "member of each near-dup cluster (the component label IS the min "
    "id under min-label propagation), docs in no cluster survive "
    "unconditionally, and the output is per-source kept/total — the "
    "number a training-data curator actually reads. One extra "
    "broadcast-joinable map (components are tiny relative to the "
    "corpus) + one scan; ratio of small integer counts is 6 dp "
    "tie-free.",
)
def d13_dedup_survivor_retention(spark, sf_dir):
    from laion_spark.operators.dedup import connected_components, jaccard_similar_pairs

    d = t(spark, sf_dir, "documents").filter("doc_id < 100")
    pairs = jaccard_similar_pairs(d, id_col="doc_id", text_col="text", ngram=1, threshold=0.4)
    comp = connected_components(pairs, "da", "db")
    kept = F.when(F.col("doc_id") == F.col("comp"), 1).otherwise(0)
    return (
        d.join(F.broadcast(comp), d.doc_id == comp.id, "left")
        .select("doc_id", "source", F.coalesce("comp", F.col("doc_id")).alias("comp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept).alias("n_kept"),
            F.round(F.sum(kept).cast("double") / F.count("*"), 6).alias("keep_ratio"),
        )
        .orderBy("source")
    )


@query(
    "t16_unigram_surprisal",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ), freq AS (
      SELECT tok, CAST(floor(ln(count(*)) * 1000000) AS BIGINT) AS lnf6
      FROM toks GROUP BY tok
    ), tot AS (
      SELECT CAST(floor(ln(count(*)) * 1000000) AS BIGINT) AS lnn6 FROM toks
    ), per AS (
      SELECT t.doc_id, t.lang, count(*) AS n_toks, sum(f.lnf6) AS s6
      FROM toks t JOIN freq f USING (tok) GROUP BY t.doc_id, t.lang
    )
    SELECT doc_id, lang, n_toks,
           lnn6 - CAST(floor(CAST(s6 AS DOUBLE) / n_toks) AS BIGINT) AS surprisal_micro
    FROM per, tot
    ORDER BY surprisal_micro DESC, doc_id LIMIT 20
    """,
    note="Perplexity-proxy quality score from the corpus's OWN unigram "
    "LM: per-doc mean -ln p(token) = ln N - mean ln f(token), the "
    "cheap first-pass filter for incoherent/rare-token documents "
    "(high surprisal = improbable under the corpus distribution). "
    "Two passes: vocabulary aggregate (one shuffle; the vocab is "
    "tiny vs the corpus so the freq map broadcasts back), then one "
    "per-doc aggregate. Integer micro-units throughout — ln floored "
    "to micros per token, the per-doc mean floored again — so no "
    "raw double quotient ever crosses the engine boundary.",
)
def t16_unigram_surprisal(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(
        F.floor(F.log(F.count("*")) * 1_000_000).cast("long").alias("lnf6")
    )
    tot = toks.agg(F.floor(F.log(F.count("*")) * 1_000_000).cast("long").alias("lnn6"))
    per = (
        toks.join(F.broadcast(freq), "tok")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_toks"), F.sum("lnf6").alias("s6"))
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            "n_toks",
            (
                F.col("lnn6")
                - F.floor(F.col("s6").cast("double") / F.col("n_toks")).cast("long")
            ).alias("surprisal_micro"),
        )
        .orderBy(F.desc("surprisal_micro"), "doc_id")
        .limit(20)
    )


@query(
    "q101_user_set_overlap",
    oracle="""
    WITH u AS (
      SELECT user_id % 4 AS cohort,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
      FROM events GROUP BY user_id
    )
    SELECT cohort,
           CAST(sum(a) AS BIGINT) AS click_users,
           CAST(sum(b) AS BIGINT) AS purchase_users,
           CAST(sum(a * b) AS BIGINT) AS both_users,
           CAST(sum(CASE WHEN a = 1 OR b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS either_users,
           CAST(sum(a * (1 - b)) AS BIGINT) AS click_only_users
    FROM u GROUP BY cohort ORDER BY cohort
    """,
    note="ClickHouse's groupBitmap/bitmapAnd/bitmapOr/bitmapAndnot "
    "cardinalities (audience-overlap analysis) re-expressed "
    "relationally: ONE shuffle on the member key builds per-user "
    "flag vectors, and every set-algebra cardinality is then a "
    "flag-arithmetic aggregate — no bitmap structure needed because "
    "the groupBy already co-locates each member once. At 100 TB the "
    "user-key aggregate is the same single exchange ClickHouse "
    "spends building the bitmaps.",
)
def q101_user_set_overlap(spark, sf_dir):
    e = with_event_time(t(spark, sf_dir, "events"))
    u = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("a"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("b"),
    )
    return (
        u.groupBy(F.pmod("user_id", F.lit(4)).alias("cohort"))
        .agg(
            F.sum("a").alias("click_users"),
            F.sum("b").alias("purchase_users"),
            F.sum(F.col("a") * F.col("b")).alias("both_users"),
            F.sum(
                F.when((F.col("a") == 1) | (F.col("b") == 1), 1).otherwise(0)
            ).alias("either_users"),
            F.sum(F.col("a") * (1 - F.col("b"))).alias("click_only_users"),
        )
        .orderBy("cohort")
    )


@query(
    "q102_great_circle_distance",
    oracle="""
    WITH pts AS (
      SELECT n_nationkey AS k, n_name,
             radians(CAST((n_nationkey * 7) % 120 AS DOUBLE) - 60.0 + 0.5) AS lat,
             radians(CAST((n_nationkey * 13) % 340 AS DOUBLE) - 170.0 + 0.5) AS lon
      FROM nation
    )
    SELECT a.n_name AS na, b.n_name AS nb,
           CAST(floor(2.0 * 6371000.0 * asin(sqrt(
             sin((b.lat - a.lat) / 2) * sin((b.lat - a.lat) / 2)
             + cos(a.lat) * cos(b.lat)
               * sin((b.lon - a.lon) / 2) * sin((b.lon - a.lon) / 2)
           ))) AS BIGINT) AS dist_m
    FROM pts a JOIN pts b ON a.k < b.k
    ORDER BY dist_m, na, nb LIMIT 30
    """,
    note="ClickHouse greatCircleDistance as a plain expression: "
    "haversine over deterministic per-nation coordinates (hash-spread "
    "lat/lon off the key, +0.5 deg keeps points off poles and "
    "antipodes). The trig chain is the same IEEE double sequence in "
    "both engines; flooring to integer METERS puts the ~1e-8 m "
    "accumulated ulp error twelve orders of magnitude from the grid. "
    "25x25 self-pair join — broadcast trivially; at scale the point "
    "table rides along any fact join as a dimension.",
)
def q102_great_circle_distance(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    pts = n.select(
        F.col("n_nationkey").alias("k"),
        "n_name",
        F.radians((F.col("n_nationkey") * 7 % 120).cast("double") - 60.0 + 0.5).alias("lat"),
        F.radians((F.col("n_nationkey") * 13 % 340).cast("double") - 170.0 + 0.5).alias("lon"),
    )
    a = pts.select(F.col("k").alias("ka"), F.col("n_name").alias("na"),
                   F.col("lat").alias("lat1"), F.col("lon").alias("lon1"))
    b = pts.select(F.col("k").alias("kb"), F.col("n_name").alias("nb"),
                   F.col("lat").alias("lat2"), F.col("lon").alias("lon2"))
    dlat_h = (F.col("lat2") - F.col("lat1")) / 2
    dlon_h = (F.col("lon2") - F.col("lon1")) / 2
    hav = (
        F.sin(dlat_h) * F.sin(dlat_h)
        + F.cos("lat1") * F.cos("lat2") * F.sin(dlon_h) * F.sin(dlon_h)
    )
    return (
        a.join(F.broadcast(b), F.col("ka") < F.col("kb"))
        .select(
            "na", "nb",
            F.floor(2.0 * 6371000.0 * F.asin(F.sqrt(hav))).cast("long").alias("dist_m"),
        )
        .orderBy("dist_m", "na", "nb")
        .limit(30)
    )


@query(
    "q103_edit_distance_pairs",
    oracle="""
    SELECT a.p_partkey AS pa, b.p_partkey AS pb, a.p_brand AS brand,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE a.p_partkey <= 150 AND b.p_partkey <= 150
    ORDER BY dist, pa, pb LIMIT 25
    """,
    note="ClickHouse editDistance (string-similarity family) over "
    "same-brand part-name pairs: classic unit-cost Levenshtein, "
    "exact integers in both engines so no float crosses the "
    "boundary. The brand equi-key keeps the self-join grouped (never "
    "all-pairs) — the same blocking discipline as the dedup "
    "operators; at corpus scale the block key would be an LSH bucket "
    "and this IS the verify stage's scoring kernel.",
)
def q103_edit_distance_pairs(spark, sf_dir):
    p = t(spark, sf_dir, "part").filter("p_partkey <= 150")
    a = p.select(F.col("p_partkey").alias("pa"), F.col("p_brand").alias("brand"),
                 F.col("p_name").alias("name_a"))
    b = p.select(F.col("p_partkey").alias("pb"), F.col("p_brand").alias("brand"),
                 F.col("p_name").alias("name_b"))
    return (
        a.join(b, ["brand"])
        .filter(F.col("pa") < F.col("pb"))
        .select(
            "pa", "pb", "brand",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .orderBy("dist", "pa", "pb")
        .limit(25)
    )


@query(
    "t17_token_fertility",
    oracle="""
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(floor(CAST(sum(n_chars) * 1000000 AS DOUBLE)
                      / sum(len(string_split(text, ' ')))) AS BIGINT)
             AS chars_per_tok_micro,
           CAST(floor(CAST(sum(len(string_split(text, ' '))) * 1000000 AS DOUBLE)
                      / count(*)) AS BIGINT) AS toks_per_doc_micro
    FROM documents
    GROUP BY lang, source ORDER BY lang, source
    """,
    note="Tokenizer-fertility ledger per (lang, source): characters "
    "per whitespace token and tokens per document — the compression "
    "stats a tokenizer-budget plan reads before mixing corpora "
    "(fertility differences across languages drive token-count "
    "skew). One scan, one tiny-key aggregate; ratios reported in "
    "floored integer micro-units so the engines divide identical "
    "exact integers (never a rounded raw quotient).",
)
def t17_token_fertility(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(n_tok).alias("n_toks"),
            F.sum("n_chars").alias("n_chars"),
            F.floor(
                (F.sum("n_chars") * 1_000_000).cast("double") / F.sum(n_tok)
            ).cast("long").alias("chars_per_tok_micro"),
            F.floor(
                (F.sum(n_tok) * 1_000_000).cast("double") / F.count("*")
            ).cast("long").alias("toks_per_doc_micro"),
        )
        .orderBy("lang", "source")
    )


@query(
    "x05_partitioned_sink_prune",
    oracle="""
    SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents WHERE lang = 'en'
    GROUP BY source ORDER BY source
    """,
    note="Hive-partitioned sink + partition-pruned read-back "
    "(ClickHouse PARTITION BY): documents written partitionBy(lang), "
    "then the lang='en' aggregate re-derived from the layout — the "
    "filter must resolve at the DIRECTORY level (PartitionFilters, "
    "zero non-en bytes read; plan-pinned in tests). The oracle reads "
    "the pre-write table, so the round-trip through the partitioned "
    "layout is what's verified. At 100 TB partition pruning is the "
    "difference between scanning one language and scanning the "
    "world.",
)
def x05_partitioned_sink_prune(spark, sf_dir):
    import tempfile

    tune_session(spark)
    d = t(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="laion_part_")
    d.write.partitionBy("lang").mode("overwrite").parquet(base)
    return (
        spark.read.parquet(base)
        .filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
        .orderBy("source")
    )


@query(
    "q104_ntile_deciles",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice AS price,
             o.o_orderkey AS okey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), d AS (
      SELECT segment, price,
             CAST(ntile(10) OVER (PARTITION BY segment
                                  ORDER BY price, okey) AS INTEGER) AS decile
      FROM j
    )
    SELECT segment, decile, count(*) AS n,
           CAST(sum(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total,
           round(min(price), 6) AS lo, round(max(price), 6) AS hi
    FROM d GROUP BY segment, decile ORDER BY segment, decile
    """,
    note="ntile decile ladder per market segment (the last uncovered "
    "rank-window function; ClickHouse ntile): deterministic ntile "
    "via a total order (price, orderkey tiebreak), then per-decile "
    "counts and decimal-exact revenue. Customer broadcasts into the "
    "orders scan; the window needs one segment-key exchange — the "
    "same single sort any engine pays for exact deciles.",
)
def q104_ntile_deciles(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderkey").alias("okey"),
    )
    w = W.partitionBy("segment").orderBy("price", "okey")
    return (
        j.select("segment", "price", F.ntile(10).over(w).alias("decile"))
        .groupBy("segment", "decile")
        .agg(
            F.count("*").alias("n"),
            dsum("price", "total"),
            F.round(F.min("price"), 6).alias("lo"),
            F.round(F.max("price"), 6).alias("hi"),
        )
        .orderBy("segment", "decile")
    )


@query(
    "q105_array_set_ops",
    oracle="""
    WITH a AS (
      SELECT doc_id AS da, list_distinct(string_split(text, ' ')) AS ta
      FROM documents WHERE doc_id % 2 = 0 AND doc_id < 400
    ), b AS (
      SELECT doc_id AS db, list_distinct(string_split(text, ' ')) AS tb
      FROM documents WHERE doc_id % 2 = 1 AND doc_id < 400
    ), p AS (
      SELECT da, db,
             CAST(len(list_intersect(ta, tb)) AS INTEGER) AS n_inter,
             CAST(len(list_distinct(list_concat(ta, tb))) AS INTEGER) AS n_union,
             CAST(len(ta) - len(list_intersect(ta, tb)) AS INTEGER) AS n_only_a
      FROM a JOIN b ON db = da + 1
    )
    SELECT da, db, n_inter, n_union, n_only_a,
           round(CAST(n_inter AS DOUBLE) / n_union, 6) AS jaccard
    FROM p ORDER BY da
    """,
    note="ClickHouse arrayIntersect/arrayUnion(arrayDistinct)/"
    "arrayExcept as set algebra over token arrays (adjacent-doc "
    "pairs): all three run element-wise inside codegen on arrays "
    "bound once per row — no explode, no shuffle beyond the pair "
    "join. Sizes are exact integers; the Jaccard ratio of small "
    "counts is 6 dp tie-free (d12 precedent).",
)
def q105_array_set_ops(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter("doc_id < 400")
    ta = d.filter("doc_id % 2 = 0").select(
        F.col("doc_id").alias("da"), F.array_distinct(F.split("text", " ")).alias("ta")
    )
    tb = d.filter("doc_id % 2 = 1").select(
        F.col("doc_id").alias("db"), F.array_distinct(F.split("text", " ")).alias("tb")
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    return (
        ta.join(tb, F.col("db") == F.col("da") + 1)
        .select(
            "da",
            "db",
            inter.alias("n_inter"),
            F.size(F.array_union("ta", "tb")).alias("n_union"),
            F.size(F.array_except("ta", "tb")).alias("n_only_a"),
            F.round(
                inter.cast("double") / F.size(F.array_union("ta", "tb")), 6
            ).alias("jaccard"),
        )
        .orderBy("da")
    )


@query(
    "x06_minmax_pruned_scan",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    note="MergeTree ORDER BY data skipping (ClickHouse primary.idx): "
    "orders rewritten key-sorted ACROSS files (repartitionByRange + "
    "sortWithinPartitions — the ORDER BY write discipline), then a "
    "key-range query planned through minmax_pruned_scan, which reads "
    "ONLY footer statistics to drop whole files before any task "
    "launches (files w/o stats are kept — pruning is conservative, "
    "never a correctness input). The oracle reads the pre-write "
    "table, so the sorted round-trip + pruned scan is what's "
    "verified; a test pins files_scanned < files_total.",
)
def x06_minmax_pruned_scan(spark, sf_dir):
    import tempfile

    from laion_spark.sources.minmax import minmax_pruned_scan

    tune_session(spark)
    o = t(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="laion_sorted_")
    (
        o.repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(base)
    )
    df, _stats = minmax_pruned_scan(spark, base, "o_orderkey", 1000, 5000)
    return (
        df.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), dsum("o_totalprice", "total"))
        .orderBy("o_orderstatus")
    )


@query(
    "q106_ipv4_functions",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    ip AS (
      SELECT user_id, (user_id * 2654435761) % 4294967296 AS n FROM u
    ), oct AS (
      SELECT n,
             (n // 16777216) % 256 AS o1, (n // 65536) % 256 AS o2,
             (n // 256) % 256 AS o3, n % 256 AS o4
      FROM ip
    )
    SELECT CAST(o1 AS INTEGER) AS octet1,
           count(*) AS n_users,
           CAST(sum(CASE WHEN o1 = 10 OR (o1 = 172 AND o2 BETWEEN 16 AND 31)
                          OR (o1 = 192 AND o2 = 168) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_private,
           min(concat(o1, '.', o2, '.', o3, '.', o4)) AS min_ip
    FROM oct GROUP BY o1 ORDER BY octet1
    """,
    note="ClickHouse IPv4 function family (IPv4NumToString, "
    "isIPAddressInRange private-range checks) as pure integer/string "
    "expressions: Knuth-hash-derived addresses per user, octet "
    "decomposition via exact integer division (identical in both "
    "engines for non-negative keys), dotted-quad formatting, RFC1918 "
    "classification, per-/8 rollup. All codegen, one tiny aggregate.",
)
def q106_ipv4_functions(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    ip = e.select("user_id").distinct().select(
        F.pmod(F.col("user_id") * F.lit(2654435761), F.lit(4294967296)).alias("n")
    )
    oct_ = ip.select(
        *[
            F.pmod(F.expr(f"n div {d}"), F.lit(256)).alias(f"o{i}")
            for i, d in ((1, 16777216), (2, 65536), (3, 256), (4, 1))
        ]
    )
    private = (
        (F.col("o1") == 10)
        | ((F.col("o1") == 172) & F.col("o2").between(16, 31))
        | ((F.col("o1") == 192) & (F.col("o2") == 168))
    )
    return (
        oct_.groupBy(F.col("o1").cast("int").alias("octet1"))
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.when(private, 1).otherwise(0)).alias("n_private"),
            F.min(F.concat_ws(".", "o1", "o2", "o3", "o4")).alias("min_ip"),
        )
        .orderBy("octet1")
    )


@query(
    "m04_resolution_filter",
    oracle="""
    WITH meta AS (
      SELECT doc_id, source,
             16 + (octet_length(encode(text)) * 7) % 480 AS w,
             16 + (doc_id * 13) % 480 AS h
      FROM documents
    )
    SELECT source,
           CASE WHEN least(w, h) < 24 THEN 'too_small'
                WHEN w > 2 * h OR h > 2 * w THEN 'bad_aspect'
                WHEN w * h < 16384 THEN 'low_res'
                ELSE 'keep' END AS verdict,
           count(*) AS n
    FROM meta GROUP BY source, verdict ORDER BY source, verdict
    """,
    note="The multimodal curation gate AFTER metadata extraction "
    "(LAION filters by resolution and aspect ratio before any "
    "expensive decode): min-dimension floor, 2:1 aspect band, pixel-"
    "area floor, FIRST failing gate wins (t10's drop-reason "
    "discipline), per-source tally. Dimensions here are the planted "
    "deterministic twin of m01/m02's extracted metadata (real decode "
    "is codec-gated), derived from byte length + key so a DuckDB "
    "oracle replays them exactly. One scan, tiny agg, blobs never "
    "move.",
)
def m04_resolution_filter(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    meta = d.select(
        "doc_id",
        "source",
        (F.lit(16) + F.pmod(F.length(F.encode("text", "UTF-8")) * 7, F.lit(480))).alias("w"),
        (F.lit(16) + F.pmod(F.col("doc_id") * 13, F.lit(480))).alias("h"),
    )
    verdict = (
        F.when(F.least("w", "h") < 24, "too_small")
        .when((F.col("w") > 2 * F.col("h")) | (F.col("h") > 2 * F.col("w")), "bad_aspect")
        .when(F.col("w") * F.col("h") < 16384, "low_res")
        .otherwise("keep")
    )
    return (
        meta.groupBy("source", verdict.alias("verdict"))
        .agg(F.count("*").alias("n"))
        .orderBy("source", "verdict")
    )


@query(
    "x07_csv_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_digests
    FROM documents GROUP BY lang ORDER BY lang
    """,
    note="CSV format round-trip (ClickHouse CSVWithNames input/output "
    "format): documents written as quoted CSV-with-header, read back "
    "under an EXPLICIT schema (never inference — deterministic "
    "types), and verified content-sensitively: the per-lang distinct "
    "md5(text) count only matches if every text byte survived "
    "quoting/escaping. The oracle reads the pre-write table, so the "
    "format codec itself is what's verified. Line-splittable format "
    "at 100 TB; one file per task both directions.",
)
def x07_csv_roundtrip(spark, sf_dir):
    import tempfile

    tune_session(spark)
    d = t(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="laion_csv_")
    d.write.mode("overwrite").option("header", True).csv(base)
    r = (
        spark.read.schema("doc_id bigint, text string, lang string, source string, n_chars bigint")
        .option("header", True)
        .csv(base)
    )
    return (
        r.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("chars"),
            F.countDistinct(F.md5("text")).alias("n_digests"),
        )
        .orderBy("lang")
    )


@query(
    "x08_jsonl_roundtrip",
    oracle="""
    SELECT source, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_digests
    FROM documents GROUP BY source ORDER BY source
    """,
    note="JSON-lines round-trip (ClickHouse JSONEachRow, the LAION "
    "metadata interchange format): documents written as one JSON "
    "object per line, read back under an explicit schema, verified "
    "by per-source distinct content digests (byte-exact text "
    "survival through JSON string escaping). Same line-splittable "
    "scan posture as CSV at scale.",
)
def x08_jsonl_roundtrip(spark, sf_dir):
    import tempfile

    tune_session(spark)
    d = t(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="laion_jsonl_")
    d.write.mode("overwrite").json(base)
    r = spark.read.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).json(base)
    return (
        r.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("chars"),
            F.countDistinct(F.md5("text")).alias("n_digests"),
        )
        .orderBy("source")
    )


@query(
    "q107_pattern_match_family",
    oracle="""
    SELECT source,
           CAST(sum(CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_like,
           CAST(sum(CASE WHEN upper(text) LIKE '%SPARK%' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ilike,
           CAST(sum(CASE WHEN regexp_matches(text, '(^| )w1[0-9]( |$)') THEN 1 ELSE 0 END)
             AS BIGINT) AS n_regex,
           CAST(sum(CASE WHEN text NOT LIKE '%table%' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_not_like
    FROM documents GROUP BY source ORDER BY source
    """,
    note="ClickHouse string-matching family (like/notLike/ilike/match) "
    "as predicate tallies per source: LIKE with leading/trailing "
    "wildcards, case-insensitive via upper() (engine-portable ILIKE), "
    "a regex restricted to the RE2-and-Java-common subset, and the "
    "negation. All JVM predicates inside one scan + tiny agg.",
)
def q107_pattern_match_family(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return (
        d.groupBy("source")
        .agg(
            cnt(F.col("text").like("%spark%")).alias("n_like"),
            cnt(F.upper("text").like("%SPARK%")).alias("n_ilike"),
            cnt(F.col("text").rlike("(^| )w1[0-9]( |$)")).alias("n_regex"),
            cnt(~F.col("text").like("%table%")).alias("n_not_like"),
        )
        .orderBy("source")
    )


@query(
    "e24_mean_z_test",
    oracle="""
    WITH s AS (
      SELECT user_id % 4 AS cohort, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
             CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS svv
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY user_id % 4, event_type
    ), w AS (
      SELECT a.cohort,
             a.n AS n1, b.n AS n2,
             a.sv / a.n AS m1, b.sv / b.n AS m2,
             (a.svv - a.sv * a.sv / a.n) / (a.n - 1) AS v1,
             (b.svv - b.sv * b.sv / b.n) / (b.n - 1) AS v2
      FROM s a JOIN s b ON a.cohort = b.cohort
      WHERE a.event_type = 'click' AND b.event_type = 'view'
    )
    SELECT cohort, n1, n2,
           CAST(floor((m1 - m2) / sqrt(v1 / n1 + v2 / n2) * 1000000) AS BIGINT)
             AS z_micro
    FROM w ORDER BY cohort
    """,
    note="ClickHouse meanZTest per cohort (completing the hypothesis-"
    "test family next to student/welch t and Mann-Whitney): moments "
    "from DECIMAL-exact sums (3-dp values and their 6-dp squares are "
    "exactly representable, so partition order cannot flip a bit), "
    "then the z statistic is pure scalar IEEE arithmetic on identical "
    "doubles in both engines, floored to integer micros. One shuffle.",
)
def e24_mean_z_test(spark, sf_dir):
    e = with_event_time(t(spark, sf_dir, "events")).filter(
        F.col("event_type").isin("click", "view")
    )
    s = e.groupBy(
        F.pmod("user_id", F.lit(4)).alias("cohort"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sv"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(18,6)")).cast("double").alias("svv"),
    )
    a = s.filter("event_type = 'click'").select(
        "cohort", F.col("n").alias("n1"), F.col("sv").alias("sv1"), F.col("svv").alias("svv1")
    )
    b = s.filter("event_type = 'view'").select(
        "cohort", F.col("n").alias("n2"), F.col("sv").alias("sv2"), F.col("svv").alias("svv2")
    )
    m1 = F.col("sv1") / F.col("n1")
    m2 = F.col("sv2") / F.col("n2")
    v1 = (F.col("svv1") - F.col("sv1") * F.col("sv1") / F.col("n1")) / (F.col("n1") - 1)
    v2 = (F.col("svv2") - F.col("sv2") * F.col("sv2") / F.col("n2")) / (F.col("n2") - 1)
    return (
        a.join(b, "cohort")
        .select(
            "cohort",
            "n1",
            "n2",
            F.floor((m1 - m2) / F.sqrt(v1 / F.col("n1") + v2 / F.col("n2")) * 1_000_000)
            .cast("long")
            .alias("z_micro"),
        )
        .orderBy("cohort")
    )


@query(
    "v11_embedding_collapse_audit",
    oracle="""
    WITH base AS (
      SELECT label,
             sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm,
             embedding
      FROM embeddings
    ), norms AS (
      SELECT label, count(*) AS n,
             sum(CAST(floor(nrm * 1000000) AS BIGINT)) AS snrm6
      FROM base GROUP BY label
    ), unit AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS pos,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) / nrm * 1000000) AS BIGINT)
               AS q
      FROM base
    ), dims AS (
      SELECT label, pos, sum(q) AS sq FROM unit GROUP BY label, pos
    ), coll AS (
      SELECT d.label,
             sum(CAST(floor(
               (CAST(d.sq AS DOUBLE) / (n.n * 1000000.0))
               * (CAST(d.sq AS DOUBLE) / (n.n * 1000000.0)) * 1000000) AS BIGINT))
               AS collapse_micro
      FROM dims d JOIN norms n ON n.label = d.label GROUP BY d.label
    )
    SELECT n.label, n.n,
           CAST(floor(CAST(n.snrm6 AS DOUBLE) / n.n) AS BIGINT) AS avg_norm_micro,
           CAST(c.collapse_micro AS BIGINT) AS collapse_micro
    FROM norms n JOIN coll c ON c.label = n.label ORDER BY n.label
    """,
    note="Embedding-collapse audit per label — the corpus-quality scan "
    "that catches a degenerate/duplicate-heavy embedding space: "
    "mean vector norm, plus ||mean of unit vectors||^2 (tends to 1 "
    "when a label's embeddings collapse to one direction, ~0 when "
    "spread — the cheap O(n·d) proxy for mean pairwise cosine, which "
    "is O(n^2)). Every cross-row sum is over floor-quantized int64 "
    "micros (partition order can never flip a bit); per-row norm is "
    "the left-to-right fold both engines share. Two bounded shuffles "
    "((label,pos) then label) — at 100 TB the (label,pos) partials "
    "combine map-side, so dimension rows never concentrate.",
)
def v11_embedding_collapse_audit(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    base = emb.select(
        "label", "embedding", F.sqrt(sq).alias("nrm")
    )
    norms = base.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("nrm") * 1_000_000).cast("long")).alias("snrm6"),
    )
    unit = base.select(
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") / F.col("nrm") * 1_000_000).cast("long"),
            )
        ).alias("pos0", "q"),
    ).select("label", (F.col("pos0") + 1).alias("pos"), "q")
    dims = unit.groupBy("label", "pos").agg(F.sum("q").alias("sq"))
    mean_d = F.col("sq").cast("double") / (F.col("n") * 1_000_000.0)
    coll = (
        dims.join(F.broadcast(norms.select("label", "n")), "label")
        .select("label", F.floor(mean_d * mean_d * 1_000_000).cast("long").alias("t6"))
        .groupBy("label")
        .agg(F.sum("t6").alias("collapse_micro"))
    )
    return (
        norms.join(coll, "label")
        .select(
            "label",
            "n",
            F.floor(F.col("snrm6").cast("double") / F.col("n")).cast("long").alias("avg_norm_micro"),
            "collapse_micro",
        )
        .orderBy("label")
    )


@query(
    "t18_bigram_surprisal",
    oracle="""
    WITH tk AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), big AS (
      SELECT * FROM (
        SELECT doc_id, lang,
               lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev, tok
        FROM tk
      ) WHERE prev IS NOT NULL
    ), vocab AS (
      SELECT count(DISTINCT tok) AS v FROM tk
    ), pc AS (
      SELECT prev, tok, count(*) AS c FROM big GROUP BY prev, tok
    ), lc AS (
      SELECT prev, count(*) AS cp FROM big GROUP BY prev
    ), per AS (
      SELECT b.doc_id, b.lang, count(*) AS n_bigrams,
             CAST(sum(CAST(floor(ln(lc.cp + vocab.v) * 1000000) AS BIGINT)
                      - CAST(floor(ln(pc.c + 1) * 1000000) AS BIGINT)) AS BIGINT)
               AS ss6
      FROM big b
      JOIN pc ON pc.prev = b.prev AND pc.tok = b.tok
      JOIN lc ON lc.prev = b.prev
      CROSS JOIN vocab
      GROUP BY b.doc_id, b.lang
    )
    SELECT doc_id, lang, n_bigrams,
           CAST(floor(CAST(ss6 AS DOUBLE) / n_bigrams) AS BIGINT) AS surprisal_micro
    FROM per ORDER BY surprisal_micro DESC, doc_id LIMIT 20
    """,
    note="Conditional bigram surprisal with add-one smoothing — the "
    "order-sensitive upgrade of t16's unigram score (repetitive or "
    "scrambled text that unigram statistics cannot separate diverges "
    "under p(tok|prev)): -ln (c(prev,tok)+1)/(c(prev)+V) averaged "
    "per doc, every term floored to integer micros before any "
    "cross-row sum. Bigram and left-context counts shuffle on their "
    "own keys (pair vocabulary can exceed broadcast size at corpus "
    "scale — only the 1-row V broadcasts); one lag window per doc.",
)
def t18_bigram_surprisal(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    tk = d.select("doc_id", "lang", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    wlag = W.partitionBy("doc_id").orderBy("pos")
    big = (
        tk.select("doc_id", "lang", F.lag("tok").over(wlag).alias("prev"), "tok")
        .filter(F.col("prev").isNotNull())
    )
    vocab = tk.agg(F.countDistinct("tok").alias("v"))
    pc = big.groupBy("prev", "tok").agg(F.count("*").alias("c"))
    lc = big.groupBy("prev").agg(F.count("*").alias("cp"))
    s6 = (
        F.floor(F.log(F.col("cp") + F.col("v")) * 1_000_000).cast("long")
        - F.floor(F.log(F.col("c") + 1) * 1_000_000).cast("long")
    )
    per = (
        big.join(pc, ["prev", "tok"])
        .join(lc, ["prev"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_bigrams"), F.sum(s6).alias("ss6"))
    )
    return (
        per.select(
            "doc_id",
            "lang",
            "n_bigrams",
            F.floor(F.col("ss6").cast("double") / F.col("n_bigrams")).cast("long").alias(
                "surprisal_micro"
            ),
        )
        .orderBy(F.desc("surprisal_micro"), "doc_id")
        .limit(20)
    )


@query(
    "d14_ngram_novelty",
    oracle=r"""
    WITH b AS (
      SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, source, unnest(list_distinct(CASE WHEN len(toks) >= 3
        THEN [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]
        ELSE [] END)) AS gram
      FROM b
    ), f AS (
      SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
    )
    SELECT g.source,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(floor(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                           * 1000000 AS DOUBLE) / count(*)) AS BIGINT) AS novelty_micro
    FROM g JOIN f USING (gram) GROUP BY g.source ORDER BY g.source
    """,
    note="Per-source n-gram novelty rate — what fraction of a source's "
    "trigrams appear NOWHERE earlier in the corpus (min-doc_id "
    "attribution): the marginal-content measure a curator reads when "
    "deciding whether another crawl of a source still adds anything "
    "(d09's contamination scan inverted — shared mass there, fresh "
    "mass here). One shingle-key aggregate for first-occurrence, one "
    "join back, one tiny source agg; ratio floored to integer micros.",
)
def d14_ngram_novelty(spark, sf_dir):
    from laion_spark.operators.dedup import shingles

    d = t(spark, sf_dir, "documents")
    sh = d.select("doc_id", "source", F.explode(shingles("text", 3)).alias("_sh"))
    firsts = sh.groupBy("_sh").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(firsts, "_sh")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            F.floor((F.sum(novel) * 1_000_000).cast("double") / F.count("*"))
            .cast("long")
            .alias("novelty_micro"),
        )
        .orderBy("source")
    )


@query(
    "e25_running_concurrency",
    oracle="""
    WITH b AS (
      SELECT epoch_us(ts) AS tpos, 1 AS delta, event_id FROM events
      UNION ALL
      SELECT epoch_us(ts) + 300000000, -1, event_id FROM events
    ), r AS (
      SELECT delta,
             sum(delta) OVER (ORDER BY tpos, delta, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      FROM b
    )
    SELECT CAST(least(conc, 50) AS INTEGER) AS conc_bucket,
           count(*) AS n_starts
    FROM r WHERE delta = 1 GROUP BY 1 ORDER BY 1
    """,
    note="ClickHouse runningConcurrency: how many 5-minute event "
    "intervals are open at each interval start ([begin,end) "
    "semantics — the -1 boundary sorts before the +1 at equal "
    "timestamps, and event_id makes the total order unique so ROWS "
    "framing is engine-identical). The running sum rides "
    "global_prefix_sum's quantile buckets — the concurrency profile "
    "of an arbitrarily large event stream without one Exchange "
    "SinglePartition; reported as the histogram of concurrency at "
    "start (capped at 50 so the output stays tiny at any scale).",
)
def e25_running_concurrency(spark, sf_dir):
    from laion_spark.operators.prefix import global_prefix_sum

    e = with_event_time(t(spark, sf_dir, "events"))
    starts = e.select(
        F.col("ts_us").alias("tpos"), F.lit(1).alias("delta"), "event_id"
    )
    ends = e.select(
        (F.col("ts_us") + F.lit(300_000_000)).alias("tpos"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    r = global_prefix_sum(
        starts.unionByName(ends), ["tpos", "delta", "event_id"], "delta", "conc",
        exclusive=False,
    )
    return (
        r.filter("delta = 1")
        .groupBy(F.least(F.col("conc"), F.lit(50)).cast("int").alias("conc_bucket"))
        .agg(F.count("*").alias("n_starts"))
        .orderBy("conc_bucket")
    )


# =============================================================================
# Round 7 — §2.17: remaining ClickHouse function-family surface
# (string n-gram similarity, array-returning moving aggregates,
# runningDifference, array/string/encoding scalar families, corrMatrix,
# ISO calendar, mutations + TTL storage passes, numbers() source,
# groupArraySorted). Reference: the laion reference delegates all of
# these to its ClickHouse server (README.md:9, search.py:171); each
# note cites the ClickHouse surface being re-expressed.
# =============================================================================


@query(
    "t19_ngram_distance",
    oracle="""
    WITH g AS (
      SELECT p_partkey, p_brand,
             list_distinct([substr(lower(p_name), i, 4)
                            for i in generate_series(1, length(p_name) - 3)]) AS grams
      FROM part WHERE p_partkey <= 120 AND length(p_name) >= 4
    )
    SELECT a.p_partkey AS pa, b.p_partkey AS pb,
           CAST(floor(CAST((len(list_distinct(list_concat(a.grams, b.grams)))
                            - len(list_intersect(a.grams, b.grams))) * 1000000 AS DOUBLE)
                      / len(list_distinct(list_concat(a.grams, b.grams)))) AS BIGINT)
             AS dist_micro,
           CAST(floor(CAST(len(list_intersect(a.grams, b.grams)) * 1000000 AS DOUBLE)
                      / len(a.grams)) AS BIGINT) AS search_micro
    FROM g a JOIN g b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    ORDER BY dist_micro, pa, pb LIMIT 30
    """,
    note="ClickHouse ngramDistance / ngramSearch (4-gram string "
    "similarity, the documented default n): Jaccard distance over "
    "DISTINCT lowercase 4-grams for the symmetric form, needle-side "
    "containment for the asymmetric search form — both as integer "
    "micros from integer gram counts, so no float rounding crosses "
    "the engine boundary. Same brand-blocked pair discipline as "
    "q103 (editDistance): the equi-key keeps the self-join grouped, "
    "never all-pairs — at corpus scale the block key is an LSH "
    "bucket and this is the verify-stage scoring kernel.",
)
def t19_ngram_distance(spark, sf_dir):
    p = t(spark, sf_dir, "part").filter("p_partkey <= 120 AND length(p_name) >= 4")
    s = F.lower(F.col("p_name"))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(s) - 3), lambda i: s.substr(i, F.lit(4))
        )
    )
    g = p.select("p_partkey", "p_brand", grams.alias("grams"))
    a = g.select(F.col("p_partkey").alias("pa"), F.col("p_brand").alias("brand"),
                 F.col("grams").alias("ga"))
    b = g.select(F.col("p_partkey").alias("pb"), F.col("p_brand").alias("brand"),
                 F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    uni = F.size(F.array_distinct(F.concat("ga", "gb")))
    return (
        a.join(b, ["brand"])
        .filter(F.col("pa") < F.col("pb"))
        .select(
            "pa", "pb",
            F.floor(((uni - inter) * 1_000_000).cast("double") / uni)
            .cast("long").alias("dist_micro"),
            F.floor((inter * 1_000_000).cast("double") / F.size("ga"))
            .cast("long").alias("search_micro"),
        )
        .orderBy("dist_micro", "pa", "pb")
        .limit(30)
    )


@query(
    "q108_group_array_moving",
    oracle="""
    WITH m AS (
      SELECT l_returnflag AS flag,
             strftime(date_trunc('month', l_shipdate), '%Y-%m') AS mon,
             CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS usd
      FROM lineitem GROUP BY 1, 2
    ), w AS (
      SELECT flag, mon,
             CAST(sum(usd) OVER (PARTITION BY flag ORDER BY mon
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS msum
      FROM m
    )
    SELECT flag,
           array_to_string(list(msum ORDER BY mon), ',') AS moving_sums,
           array_to_string(list(CAST(floor(CAST(msum * 1000000 AS DOUBLE) / 3)
                                     AS BIGINT) ORDER BY mon), ',') AS moving_avgs_micro
    FROM w GROUP BY flag ORDER BY flag
    """,
    note="ClickHouse groupArrayMovingSum(3) / groupArrayMovingAvg(3): "
    "the ARRAY-returning moving-window aggregate forms (q12 covers "
    "the per-row window frame; this is the per-GROUP array shape "
    "ClickHouse returns). Monthly revenue is pre-aggregated in "
    "integer dollars first — the array is built over the tiny "
    "month-grain rollup, never over raw rows, which is what keeps "
    "the collect bounded at any corpus size (<= months-per-flag "
    "elements). movingAvg divides by the window SIZE parameter like "
    "ClickHouse (leading elements average over fewer actual rows); "
    "arrays cross the driver boundary as joined strings.",
)
def q108_group_array_moving(spark, sf_dir):
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    m = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("mon"),
        )
        .agg(F.sum(F.floor("l_extendedprice").cast("long")).alias("usd"))
    )
    w = Window.partitionBy("flag").orderBy("mon").rowsBetween(-2, 0)
    mv = m.withColumn("msum", F.sum("usd").over(w))
    ordered = F.array_sort(F.collect_list(F.struct("mon", "msum")))
    return (
        mv.groupBy("flag")
        .agg(
            F.array_join(
                F.transform(ordered, lambda x: x["msum"].cast("string")), ","
            ).alias("moving_sums"),
            F.array_join(
                F.transform(
                    ordered,
                    lambda x: F.floor((x["msum"] * 1_000_000).cast("double") / 3)
                    .cast("long").cast("string"),
                ),
                ",",
            ).alias("moving_avgs_micro"),
        )
        .orderBy("flag")
    )


@query(
    "q109_running_difference",
    oracle="""
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           CAST(coalesce(
             CAST(floor(value * 100) AS BIGINT)
             - lag(CAST(floor(value * 100) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
             0) AS BIGINT) AS diff_cents
    FROM events WHERE user_id < 30
    ORDER BY user_id, ts_us, event_id
    """,
    note="ClickHouse runningDifference (the per-series delta form, "
    "unclamped — nonNegativeDerivative in e-block is the clamped "
    "rate variant): value deltas per user in integer cents, first "
    "row of each series = 0 per the ClickHouse contract. One "
    "user-key window, no global state; floor(value*100) is the same "
    "IEEE double op in both engines so the cents are engine-exact.",
)
def q109_running_difference(spark, sf_dir):
    from pyspark.sql import Window

    e = ev(spark, sf_dir).filter("user_id < 30")
    cents = F.floor(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        e.select(
            "user_id", "event_id", "ts_us",
            F.coalesce(cents - F.lag(cents).over(w), F.lit(0))
            .cast("long").alias("diff_cents"),
        )
        .orderBy("user_id", "ts_us", "event_id")
    )


@query(
    "q110_array_predicate_family",
    oracle="""
    WITH a AS (
      SELECT o_custkey AS custkey, list_sort(list(o_orderpriority)) AS pr
      FROM orders WHERE o_custkey <= 300 GROUP BY 1
    )
    SELECT custkey,
           CAST(len(pr) AS INTEGER) AS n_orders,
           CAST(CASE WHEN list_contains(pr, '1-URGENT') THEN 1 ELSE 0 END
                AS INTEGER) AS has_urgent,
           CAST(CASE WHEN list_has_all(pr, ['1-URGENT', '5-LOW']) THEN 1 ELSE 0 END
                AS INTEGER) AS has_both_ends,
           CAST(CASE WHEN list_has_any(pr, ['2-HIGH', '4-NOT SPECIFIED']) THEN 1
                ELSE 0 END AS INTEGER) AS has_any_mid,
           CAST(coalesce(list_position(pr, '3-MEDIUM'), 0) AS INTEGER) AS idx_medium,
           CAST(len(list_filter(pr, x -> x = '3-MEDIUM')) AS INTEGER) AS cnt_medium
    FROM a ORDER BY custkey
    """,
    note="ClickHouse array predicate family — has / hasAll / hasAny / "
    "indexOf / countEqual — over the per-customer sorted multiset of "
    "order priorities. The array is built by ONE customer-key "
    "aggregate (sort_array makes collect order deterministic); every "
    "predicate is then a JVM higher-order function, no explode "
    "round-trip. indexOf follows ClickHouse's 0-for-absent contract "
    "(DuckDB's NULL is coalesced to match). Bounded fan-in: array "
    "length = orders per customer.",
)
def q110_array_predicate_family(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter("o_custkey <= 300")
    a = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sort_array(F.collect_list("o_orderpriority")).alias("pr")
    )
    both = F.array(F.lit("1-URGENT"), F.lit("5-LOW"))
    mid = F.array(F.lit("2-HIGH"), F.lit("4-NOT SPECIFIED"))
    return a.select(
        "custkey",
        F.size("pr").cast("int").alias("n_orders"),
        F.array_contains("pr", "1-URGENT").cast("int").alias("has_urgent"),
        (F.size(F.array_except(both, F.col("pr"))) == 0).cast("int").alias("has_both_ends"),
        F.arrays_overlap("pr", mid).cast("int").alias("has_any_mid"),
        F.array_position("pr", "3-MEDIUM").cast("int").alias("idx_medium"),
        F.size(F.filter("pr", lambda x: x == "3-MEDIUM")).cast("int").alias("cnt_medium"),
    ).orderBy("custkey")


@query(
    "q111_string_search_family",
    oracle="""
    SELECT doc_id,
           CAST(strpos(lower(text), 'data') AS INTEGER) AS pos_data,
           CAST((length(lower(text)) - length(replace(lower(text), 'the', '')))
                // 3 AS INTEGER) AS cnt_the,
           CAST(CASE WHEN lower(text) LIKE '%data%' OR lower(text) LIKE '%model%'
                     OR lower(text) LIKE '%learn%' THEN 1 ELSE 0 END AS INTEGER)
             AS multi_any
    FROM documents ORDER BY doc_id
    """,
    note="ClickHouse string-search family — position, countSubstrings, "
    "multiSearchAny — as pure JVM scalar expressions over document "
    "text: first-occurrence offset (1-based, 0 when absent, both "
    "engines), substring count via the length-difference identity "
    "(no regex, so no engine regex-dialect risk), and the "
    "multi-needle OR. One scan, trivially parallel at any corpus "
    "size; countSubstrings counts non-overlapping occurrences "
    "exactly like the length identity does in ClickHouse.",
)
def q111_string_search_family(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    lt = F.lower(F.col("text"))
    return d.select(
        "doc_id",
        F.instr(lt, "data").cast("int").alias("pos_data"),
        ((F.length(lt) - F.length(F.regexp_replace(lt, "the", ""))) / 3)
        .cast("int").alias("cnt_the"),
        (lt.contains("data") | lt.contains("model") | lt.contains("learn"))
        .cast("int").alias("multi_any"),
    ).orderBy("doc_id")


@query(
    "q112_encoding_family",
    oracle="""
    SELECT p_partkey,
           substr(upper(hex(p_name)), 1, 16) AS hex16,
           to_base64(encode(p_name)) AS b64,
           CAST(CASE WHEN decode(from_base64(to_base64(encode(p_name)))) = p_name
                THEN 1 ELSE 0 END AS INTEGER) AS roundtrip_ok,
           CAST(length(to_base64(encode(p_name))) AS INTEGER) AS b64_len
    FROM part WHERE p_partkey <= 200 ORDER BY p_partkey
    """,
    note="ClickHouse hex / base64Encode / base64Decode scalar family: "
    "UTF-8 byte hex (uppercased on both sides — engines differ on "
    "letter case), RFC 4648 base64 (no line wrapping in either "
    "engine at these lengths), and a decode round-trip proven "
    "byte-exact per row. All string-in/string-out JVM expressions; "
    "at 100 TB these ride the scan as codegen'd projections.",
)
def q112_encoding_family(spark, sf_dir):
    p = t(spark, sf_dir, "part").filter("p_partkey <= 200")
    b64 = F.base64(F.col("p_name").cast("binary"))
    return p.select(
        "p_partkey",
        F.substring(F.upper(F.hex("p_name")), 1, 16).alias("hex16"),
        b64.alias("b64"),
        (F.decode(F.unbase64(b64), "UTF-8") == F.col("p_name"))
        .cast("int").alias("roundtrip_ok"),
        F.length(b64).cast("int").alias("b64_len"),
    ).orderBy("p_partkey")


@query(
    "q113_corr_matrix",
    oracle="""
    WITH s AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sq,
             CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sp,
             CAST(sum(CAST(floor(l_discount * 100) AS BIGINT)) AS BIGINT) AS sd,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)
                      * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sqq,
             CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)
                      * CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS spp,
             CAST(sum(CAST(floor(l_discount * 100) AS BIGINT)
                      * CAST(floor(l_discount * 100) AS BIGINT)) AS BIGINT) AS sdd,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)
                      * CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sqp,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)
                      * CAST(floor(l_discount * 100) AS BIGINT)) AS BIGINT) AS sqd,
             CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)
                      * CAST(floor(l_discount * 100) AS BIGINT)) AS BIGINT) AS spd
      FROM lineitem
    )
    SELECT CAST(floor((CAST(n AS DOUBLE) * sqp - CAST(sq AS DOUBLE) * sp) * 1000000
             / sqrt((CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
                    * (CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp))) AS BIGINT)
             AS corr_qty_price_micro,
           CAST(floor((CAST(n AS DOUBLE) * sqd - CAST(sq AS DOUBLE) * sd) * 1000000
             / sqrt((CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
                    * (CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd))) AS BIGINT)
             AS corr_qty_disc_micro,
           CAST(floor((CAST(n AS DOUBLE) * spd - CAST(sp AS DOUBLE) * sd) * 1000000
             / sqrt((CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)
                    * (CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd))) AS BIGINT)
             AS corr_price_disc_micro
    FROM s
    """,
    note="ClickHouse corrMatrix (23.x) over (quantity, price, discount): "
    "all three pairwise Pearson correlations from ONE pass of exact "
    "integer sufficient statistics (units/dollars/discount-percent "
    "keep every sum in BIGINT; every sum < 2^53 so the cast to "
    "double is exact, and the closed-form corr is then the identical "
    "IEEE sequence in both engines, floored to micros). The "
    "map-side-combined single aggregate is exactly how a matrix agg "
    "must run at 100 TB — no per-pair re-scan.",
)
def q113_corr_matrix(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    q = F.floor("l_quantity").cast("long")
    p = F.floor("l_extendedprice").cast("long")
    d = F.floor(F.col("l_discount") * 100).cast("long")
    s = li.agg(
        F.count("*").alias("n"),
        F.sum(q).alias("sq"), F.sum(p).alias("sp"), F.sum(d).alias("sd"),
        F.sum(q * q).alias("sqq"), F.sum(p * p).alias("spp"),
        F.sum(d * d).alias("sdd"),
        F.sum(q * p).alias("sqp"), F.sum(q * d).alias("sqd"),
        F.sum(p * d).alias("spd"),
    )
    n = F.col("n").cast("double")

    def corr(sxy, sx, sxx, sy, syy, alias):
        num = (n * F.col(sxy) - F.col(sx).cast("double") * F.col(sy)) * 1_000_000
        den = F.sqrt(
            (n * F.col(sxx) - F.col(sx).cast("double") * F.col(sx))
            * (n * F.col(syy) - F.col(sy).cast("double") * F.col(sy))
        )
        return F.floor(num / den).cast("long").alias(alias)

    return s.select(
        corr("sqp", "sq", "sqq", "sp", "spp", "corr_qty_price_micro"),
        corr("sqd", "sq", "sqq", "sd", "sdd", "corr_qty_disc_micro"),
        corr("spd", "sp", "spp", "sd", "sdd", "corr_price_disc_micro"),
    )


@query(
    "e26_iso_calendar_rollup",
    oracle="""
    SELECT CAST(isoyear(ts) AS INTEGER) AS iso_year,
           CAST(weekofyear(ts) AS INTEGER) AS iso_week,
           strftime(CAST(date_trunc('week', ts) AS DATE), '%Y-%m-%d') AS week_start,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2
    """,
    note="ClickHouse toISOYear / toISOWeek / toStartOfWeek rollup: "
    "ISO-8601 week-year calendar aggregation of the event stream "
    "(both engines implement ISO week numbering; Monday week start "
    "in both date_truncs; the week-year differs from the calendar "
    "year at boundaries, which the fixture's January data "
    "exercises via 2024-W01 starting 2024-01-01). One hash "
    "aggregate on derived keys — calendar math is free at scan "
    "time at any scale.",
)
def e26_iso_calendar_rollup(spark, sf_dir):
    e = ev(spark, sf_dir)
    return (
        e.groupBy(
            F.expr("extract(YEAROFWEEK FROM ts_t)").cast("int").alias("iso_year"),
            F.weekofyear("ts_t").cast("int").alias("iso_week"),
            F.date_format(F.date_trunc("week", "ts_t").cast("date"), "yyyy-MM-dd")
            .alias("week_start"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .orderBy("iso_year", "iso_week")
    )


@query(
    "x09_mutation_delete_update",
    oracle="""
    SELECT o_orderstatus,
           CASE WHEN o_totalprice < 20000 THEN '9-DEMOTED' ELSE o_orderpriority END
             AS o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS usd
    FROM orders
    WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    note="ClickHouse mutations (ALTER TABLE ... DELETE / UPDATE) as the "
    "copy-on-write part rewrite they actually are: the table is "
    "materialized as parquet parts (v0), the mutation pass rewrites "
    "surviving rows with the UPDATE expression applied into a new "
    "part generation (v1), and the query reads v1 — the oracle "
    "applies the same predicate+CASE to the source table, so the "
    "whole storage round-trip is verified. DELETE-before-UPDATE "
    "order matches ClickHouse's sequential mutation log. At 100 TB "
    "each part rewrites independently (embarrassingly parallel), "
    "untouched parts are hard-linked — here every part is touched "
    "so all rewrite.",
)
def x09_mutation_delete_update(spark, sf_dir):
    import tempfile

    tune_session(spark)
    base = tempfile.mkdtemp(prefix="laion_mut_")
    t(spark, sf_dir, "orders").write.mode("overwrite").parquet(f"{base}/v0")
    v0 = spark.read.parquet(f"{base}/v0")
    mutated = v0.filter(
        ~((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000))
    ).withColumn(
        "o_orderpriority",
        F.when(F.col("o_totalprice") < 20000, "9-DEMOTED")
        .otherwise(F.col("o_orderpriority")),
    )
    mutated.write.mode("overwrite").parquet(f"{base}/v1")
    v1 = spark.read.parquet(f"{base}/v1")
    return (
        v1.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor("o_totalprice").cast("long")).alias("usd"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@query(
    "x10_ttl_rollup",
    oracle="""
    WITH stored AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
      GROUP BY event_type, date_trunc('day', ts)
      UNION ALL
      SELECT event_type, 1, CAST(floor(value * 100) AS BIGINT)
      FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
    )
    SELECT event_type,
           count(*) AS stored_rows,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM stored GROUP BY event_type ORDER BY event_type
    """,
    note="ClickHouse TTL ... GROUP BY (the aggregating-expiry form): "
    "rows older than the TTL cutoff are rolled up to day+type "
    "grain at the storage layer, recent rows stay raw — the table "
    "rewrite is materialized to parquet and read back, and the "
    "output proves both the compaction (stored_rows shrinks) and "
    "losslessness of the aggregated measures (n_events/cents match "
    "the oracle's pre-TTL totals). This is the MergeTree TTL "
    "contract: storage shrinks, aggregate queries stay exact. "
    "Fixed cutoff literal keeps the entry deterministic.",
)
def x10_ttl_rollup(spark, sf_dir):
    import tempfile

    tune_session(spark)
    cutoff = "2024-01-20 00:00:00"
    e = ev(spark, sf_dir).withColumn(
        "cents", F.floor(F.col("value") * 100).cast("long")
    )
    old = (
        e.filter(F.col("ts_t") < F.lit(cutoff).cast("timestamp"))
        .groupBy("event_type", F.date_trunc("day", "ts_t").alias("_d"))
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
        .select("event_type", "n", "cents")
    )
    recent = e.filter(F.col("ts_t") >= F.lit(cutoff).cast("timestamp")).select(
        "event_type", F.lit(1).cast("long").alias("n"), "cents"
    )
    base = tempfile.mkdtemp(prefix="laion_ttl_")
    old.unionByName(recent).write.mode("overwrite").parquet(f"{base}/stored")
    stored = spark.read.parquet(f"{base}/stored")
    return (
        stored.groupBy("event_type")
        .agg(
            F.count("*").alias("stored_rows"),
            F.sum("n").alias("n_events"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("event_type")
    )


@query(
    "x11_numbers_source",
    oracle="""
    SELECT CAST(i % 16 AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(sum(i) AS BIGINT) AS s,
           CAST(sum(i * i) AS BIGINT) AS ss,
           CAST(sum(CASE WHEN i % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sevens
    FROM range(0, 1000000) t(i)
    GROUP BY 1 ORDER BY 1
    """,
    note="ClickHouse numbers() / generateSeries table function: a "
    "generator SOURCE with no backing files — Spark's range() "
    "produces partitioned splits driver-side (numSlices parallel "
    "generators, zero I/O), the exact analog of numbers_mt. "
    "Verified by modular bucket statistics incl. sum(i^2) which is "
    "order- and partition-independent in exact BIGINT. The pattern "
    "matters at scale for synthesizing probe/test loads without "
    "touching storage.",
)
def x11_numbers_source(spark, sf_dir):
    tune_session(spark)
    r = spark.range(0, 1_000_000)
    i = F.col("id")
    return (
        r.groupBy((i % 16).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum(i).alias("s"),
            F.sum(i * i).alias("ss"),
            F.sum(F.when(i % 7 == 0, 1).otherwise(0)).alias("sevens"),
        )
        .orderBy("bucket")
    )


@query(
    "q114_group_array_sorted",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*) AS n,
           array_to_string(list_sort(list(CAST(floor(o_totalprice) AS BIGINT)))[1:5],
                           ',') AS bottom5_usd,
           array_to_string(list_sort(list(CAST(floor(o_totalprice) AS BIGINT)),
                                     'DESC')[1:5], ',') AS top5_usd
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    note="ClickHouse groupArraySorted(5) (23.x): the smallest-N-values "
    "array aggregate, plus its mirror for largest-N — per priority "
    "class over integer order dollars. Semantically a bounded "
    "heap per group: only N values per group survive the partial "
    "aggregate at scale (Spark's collect+sort+slice is exact here; "
    "the note documents that a 100 TB deployment caps the partial "
    "via the same TakeOrdered-per-key trick as topK). Values are "
    "multiset-sorted so ties are deterministic; arrays cross the "
    "driver boundary as joined strings.",
)
def q114_group_array_sorted(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    usd = F.floor("o_totalprice").cast("long")
    lst = F.collect_list(usd)
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.array_join(
                F.transform(
                    F.slice(F.array_sort(lst), 1, 5), lambda x: x.cast("string")
                ), ",",
            ).alias("bottom5_usd"),
            F.array_join(
                F.transform(
                    F.slice(F.sort_array(lst, asc=False), 1, 5),
                    lambda x: x.cast("string"),
                ), ",",
            ).alias("top5_usd"),
        )
        .orderBy("priority")
    )


# --- round-7 session-2 additions: ranking/geo/bit/metadata families ---------


@query(
    "q115_array_auc",
    oracle="""
    WITH p AS (
      SELECT o_orderstatus AS status,
             CAST(floor(o_totalprice / 1000) AS BIGINT) AS s,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS pos
      FROM orders
    ), g AS (
      SELECT status, s, count(*) AS n,
             CAST(sum(pos) AS BIGINT) AS npos_s
      FROM p GROUP BY status, s
    ), w AS (
      SELECT status, s, n, npos_s,
             CAST(coalesce(sum(n) OVER (PARTITION BY status ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM g
    ), a AS (
      SELECT status,
             CAST(sum(npos_s * (2 * cum_before + n + 1)) AS BIGINT) AS s2,
             CAST(sum(npos_s) AS BIGINT) AS npos,
             CAST(sum(n) AS BIGINT) AS ntot
      FROM w GROUP BY status
    )
    SELECT status, npos, ntot - npos AS nneg,
           (s2 - npos * (npos + 1)) * 1000000
             // (2 * npos * (ntot - npos)) AS auc_micro
    FROM a ORDER BY status
    """,
    note="ClickHouse arrayAUC: tie-aware ROC AUC (Mann-Whitney form) "
    "per order status, urgent/high priority as the positive class and "
    "coarse kUSD price as the score. Exact integer rank arithmetic "
    "throughout: scores collapse to distinct values with counts, a "
    "prefix-sum window yields 2*avg_rank = 2*cum_before + n + 1 as an "
    "integer (no .5 ranks cross the engine boundary), and "
    "AUC = (S - npos(npos+1)/2) / (npos*nneg) is emitted as a single "
    "BIGINT integer division to micro units. One shuffle to the "
    "distinct-score grain; the window runs on that tiny rollup, never "
    "raw rows. At 100 TB the numerator grows ~n^2 * 1e6 — the same "
    "pipeline holds with DECIMAL(38,0) partials; the shape (group, "
    "prefix-sum, one division at the end) is unchanged.",
)
def q115_array_auc(spark, sf_dir):
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    p = o.select(
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("s"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("pos"),
    )
    g = p.groupBy("status", "s").agg(
        F.count("*").alias("n"), F.sum("pos").cast("long").alias("npos_s")
    )
    w = Window.partitionBy("status").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ww = g.withColumn(
        "cum_before", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
    )
    a = ww.groupBy("status").agg(
        F.sum(
            F.col("npos_s") * (2 * F.col("cum_before") + F.col("n") + 1)
        ).cast("long").alias("s2"),
        F.sum("npos_s").cast("long").alias("npos"),
        F.sum("n").cast("long").alias("ntot"),
    )
    return a.select(
        "status",
        "npos",
        (F.col("ntot") - F.col("npos")).alias("nneg"),
        F.expr(
            "(s2 - npos * (npos + 1)) * 1000000"
            " DIV (2 * npos * (ntot - npos))"
        ).alias("auc_micro"),
    ).orderBy("status")


def _morton_sql(xe: str, ye: str, bits: int = 8) -> str:
    """DuckDB bit-interleave of two expressions into a morton code."""
    return " + ".join(
        f"((({xe} >> {i}) & 1) << {2 * i}) + ((({ye} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )


def _morton_decode_sql(me: str, odd: int, bits: int = 8) -> str:
    """DuckDB de-interleave of the even (odd=0) / odd (odd=1) bits."""
    return " + ".join(
        f"((({me} >> {2 * i + odd}) & 1) << {i})" for i in range(bits)
    )


@query(
    "q116_morton_zorder",
    oracle=f"""
    WITH p AS (
      SELECT c_custkey, c_custkey % 256 AS x, (c_custkey * 131) % 256 AS y
      FROM customer WHERE c_custkey <= 40
    ), m AS (
      SELECT c_custkey, x, y, CAST({_morton_sql('x', 'y')} AS BIGINT) AS morton
      FROM p
    )
    SELECT c_custkey, x, y, morton,
           CAST({_morton_decode_sql('morton', 0)} AS BIGINT) AS dx,
           CAST({_morton_decode_sql('morton', 1)} AS BIGINT) AS dy
    FROM m ORDER BY c_custkey
    """,
    note="ClickHouse mortonEncode/mortonDecode: 8-bit x 8-bit Z-order "
    "interleave built from shift/AND/OR bit arithmetic (pure JVM "
    "expressions, unrolled 16 terms), decoded back in the same query "
    "so the round-trip is hash-verified. Beyond function parity this "
    "is the multi-dimensional clustering key for 100 TB layouts: "
    "repartitionByRange(morton) + sortWithinPartitions gives every "
    "file a small Z-curve range, so footer min/max skipping (x06) "
    "prunes on BOTH dimensions at once — the same reason Delta/"
    "Iceberg OPTIMIZE ZORDER and ClickHouse mortonEncode ORDER BY "
    "keys exist.",
)
def q116_morton_zorder(spark, sf_dir):
    c = t(spark, sf_dir, "customer").filter("c_custkey <= 40")
    x = F.pmod(F.col("c_custkey"), F.lit(256)).cast("long")
    y = F.pmod(F.col("c_custkey") * 131, F.lit(256)).cast("long")

    def interleave(xc, yc, bits=8):
        out = F.lit(0).cast("long")
        for i in range(bits):
            out = (
                out
                + F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i)
                + F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        return out

    def deinterleave(mc, odd, bits=8):
        out = F.lit(0).cast("long")
        for i in range(bits):
            out = out + F.shiftleft(
                F.shiftright(mc, 2 * i + odd).bitwiseAND(F.lit(1)), i
            )
        return out

    m = c.select(
        "c_custkey",
        x.alias("x"),
        y.alias("y"),
        interleave(x, y).alias("morton"),
    )
    return m.select(
        "c_custkey",
        "x",
        "y",
        "morton",
        deinterleave(F.col("morton"), 0).alias("dx"),
        deinterleave(F.col("morton"), 1).alias("dy"),
    ).orderBy("c_custkey")


#: convex test polygon (counter-clockwise, integer vertices)
_POLY = [(10, 10), (90, 20), (80, 80), (30, 90), (5, 50)]


@query(
    "q117_point_in_polygon",
    oracle=f"""
    WITH p AS (
      SELECT c_mktsegment AS segment,
             c_custkey % 100 AS px, (c_custkey * 37) % 100 AS py
      FROM customer
    )
    SELECT segment,
           CAST(sum(CASE WHEN {' AND '.join(
               f"(({x2} - {x1}) * (py - {y1}) - ({y2} - {y1}) * (px - {x1})) >= 0"
               for (x1, y1), (x2, y2) in zip(_POLY, _POLY[1:] + _POLY[:1])
           )} THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
           count(*) AS n_total
    FROM p GROUP BY segment ORDER BY segment
    """,
    note="ClickHouse pointInPolygon for a convex polygon: the "
    "half-plane (cross-product sign) test per edge, all in exact "
    "integer arithmetic so no epsilon crosses the engine boundary — "
    "boundary points count as inside. General simple polygons "
    "decompose into convex fans of this same kernel (ClickHouse "
    "grids the polygon for the same reason). Embarrassingly "
    "parallel: five integer multiplies per point, no shuffle before "
    "the final segment rollup — exactly the shape a 100 TB geo "
    "filter needs (and the morton key of q116 is how the scan side "
    "would be pruned to the polygon's bounding box first).",
)
def q117_point_in_polygon(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    px = F.pmod(F.col("c_custkey"), F.lit(100))
    py = F.pmod(F.col("c_custkey") * 37, F.lit(100))
    inside = F.lit(True)
    for (x1, y1), (x2, y2) in zip(_POLY, _POLY[1:] + _POLY[:1]):
        inside = inside & (
            ((x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)) >= 0
        )
    return (
        c.select(F.col("c_mktsegment").alias("segment"), inside.alias("ins"))
        .groupBy("segment")
        .agg(
            F.sum(F.when(F.col("ins"), 1).otherwise(0)).cast("long").alias("n_inside"),
            F.count("*").alias("n_total"),
        )
        .orderBy("segment")
    )


#: ClickHouse roundDuration boundaries
_DUR_BOUNDS = [0, 1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800,
               3600, 7200, 18000, 36000]


@query(
    "q118_rounding_family",
    oracle=f"""
    WITH p AS (
      SELECT o_orderkey AS k, o_orderkey % 100 AS age,
             o_orderkey % 40000 AS dur, (o_orderkey % 1000) + 1 AS v
      FROM orders WHERE o_orderkey <= 64
    )
    SELECT k,
           CASE WHEN age = 0 THEN 0 WHEN age < 18 THEN 17
                WHEN age < 25 THEN 18 WHEN age < 35 THEN 25
                WHEN age < 45 THEN 35 WHEN age < 55 THEN 45
                ELSE 55 END AS round_age,
           CAST({' '.join(f"CASE WHEN dur >= {b} THEN {b} ELSE" for b in reversed(_DUR_BOUNDS))}
             0 {'END ' * len(_DUR_BOUNDS)} AS BIGINT) AS round_duration,
           CAST(pow(2, floor(log2(v))) AS BIGINT) AS round_exp2,
           CASE WHEN age >= 75 THEN 75 WHEN age >= 50 THEN 50
                WHEN age >= 25 THEN 25 ELSE 0 END AS round_down,
           k + (k % 2) AS bankers
    FROM p ORDER BY k
    """,
    note="ClickHouse rounding family: roundAge and roundDuration "
    "(fixed CH bucket ladders), roundToExp2 (largest power of two <= "
    "x, exact because log2 of an exact power is exact IEEE and floor "
    "is safe between powers), roundDown against a boundary array, "
    "and roundBankers — Spark's native half-even bround applied to "
    "exact .5 ties (k + 0.5 is exactly representable), while the "
    "oracle derives the banker's result arithmetically (k + k%2), so "
    "the test pins Spark's bround AGAINST the mathematical "
    "definition, not against DuckDB's half-away round. All integer "
    "CASE ladders — whole-stage-codegen scalar work, zero shuffles "
    "before the ORDER BY.",
)
def q118_rounding_family(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter("o_orderkey <= 64")
    k = F.col("o_orderkey")
    age = F.pmod(k, F.lit(100))
    dur = F.pmod(k, F.lit(40000))
    v = F.pmod(k, F.lit(1000)) + 1
    round_age = (
        F.when(age == 0, 0).when(age < 18, 17).when(age < 25, 18)
        .when(age < 35, 25).when(age < 45, 35).when(age < 55, 45)
        .otherwise(55)
    )
    round_dur = F.lit(0)
    for b in _DUR_BOUNDS:
        round_dur = F.when(dur >= b, b).otherwise(round_dur)
    round_exp2 = F.pow(F.lit(2.0), F.floor(F.log2(v))).cast("long")
    round_down = (
        F.when(age >= 75, 75).when(age >= 50, 50).when(age >= 25, 25).otherwise(0)
    )
    return o.select(
        k.alias("k"),
        round_age.cast("long").alias("round_age"),
        round_dur.cast("long").alias("round_duration"),
        round_exp2.alias("round_exp2"),
        round_down.cast("long").alias("round_down"),
        F.bround(k.cast("double") + 0.5, 0).cast("long").alias("bankers"),
    ).orderBy("k")


@query(
    "e27_decayed_sum",
    oracle="""
    WITH e AS (
      SELECT user_id,
             CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 3600000000) AS BIGINT)
               AS h,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE user_id < 50
    ), m AS (
      SELECT user_id, max(h) AS hmax FROM e GROUP BY user_id
    )
    SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_events, m.hmax,
           CAST(sum(CASE WHEN m.hmax - e.h <= 30
                    THEN e.cents * (CAST(1 AS BIGINT) << (30 - (m.hmax - e.h)))
                    ELSE 0 END) AS BIGINT) AS decayed_scaled,
           CAST(sum(CASE WHEN m.hmax - e.h <= 30
                    THEN e.cents * (CAST(1 AS BIGINT) << (30 - (m.hmax - e.h)))
                    ELSE 0 END) AS BIGINT)
             // (CAST(1 AS BIGINT) << 30) AS decayed_cents
    FROM e JOIN m ON e.user_id = m.user_id
    GROUP BY e.user_id, m.hmax ORDER BY e.user_id
    """,
    note="ClickHouse exponentialTimeDecayedSum with a base-2 hourly "
    "half-life, evaluated at each user's latest event hour. Exactness "
    "discipline: the decay weight 2^-k is a dyadic rational, so every "
    "term value_cents * 2^(30-k) is an exact BIGINT (k > 30 "
    "underflows to a true 0 contribution), the sum is exact integer "
    "addition in any partition order, and only the final >> 30 "
    "leaves the scaled domain — no transcendental exp() crosses the "
    "engine boundary. The per-user max-hour join is a broadcast of "
    "the tiny rollup. Same shape ClickHouse uses for its "
    "-TimeDecayed aggregates; arbitrary bases are one multiply away "
    "once a platform pins a single libm (documented limit here).",
)
def e27_decayed_sum(spark, sf_dir):
    e = (
        with_event_time(t(spark, sf_dir, "events"))
        .filter("user_id < 50")
        .select(
            "user_id",
            F.floor(F.col("ts_us").cast("double") / 3600000000).cast("long").alias("h"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
    )
    m = e.groupBy("user_id").agg(F.max("h").alias("hmax"))
    j = e.join(F.broadcast(m), "user_id")
    term = F.expr(
        "CASE WHEN hmax - h <= 30 THEN"
        " cents * shiftleft(CAST(1 AS BIGINT), CAST(30 - (hmax - h) AS INT))"
        " ELSE CAST(0 AS BIGINT) END"
    )
    return (
        j.groupBy("user_id", "hmax")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(term).cast("long").alias("decayed_scaled"),
        )
        .select(
            "user_id",
            "n_events",
            "hmax",
            "decayed_scaled",
            F.expr("decayed_scaled DIV (CAST(1 AS BIGINT) << 30)").alias(
                "decayed_cents"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "e28_proportions_ztest",
    oracle="""
    WITH s AS (
      SELECT o_custkey % 4 AS cohort,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN o_orderstatus = 'F'
                       AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS x1,
             CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2,
             CAST(sum(CASE WHEN o_orderstatus = 'O'
                       AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS x2
      FROM orders GROUP BY o_custkey % 4
    )
    SELECT cohort, x1, n1, x2, n2,
           CAST(floor(
             (CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
             / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                    * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                    * (CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n2))
             * 1000000) AS BIGINT) AS z_micro
    FROM s ORDER BY cohort
    """,
    note="ClickHouse proportionsZTest per customer cohort: urgent-rate "
    "of finished vs open orders under the pooled-proportion z "
    "statistic. The four inputs per cohort are exact integer counts "
    "from one scan; the z formula is then written with IDENTICAL "
    "association order in both engines, so every intermediate double "
    "is bit-identical (IEEE ops on equal inputs) and the floor to "
    "integer micros cannot diverge. Completes the hypothesis-test "
    "family: student/welch t, Mann-Whitney, KS, meanZTest, and now "
    "proportions.",
)
def e28_proportions_ztest(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    s = o.groupBy(F.pmod("o_custkey", F.lit(4)).alias("cohort")).agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long").alias("n1"),
        F.sum(F.when((F.col("o_orderstatus") == "F") & urgent, 1).otherwise(0))
        .cast("long").alias("x1"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
        .cast("long").alias("n2"),
        F.sum(F.when((F.col("o_orderstatus") == "O") & urgent, 1).otherwise(0))
        .cast("long").alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (F.col("n1") + F.col("n2"))
    z = (p1 - p2) / F.sqrt(
        pp * (1 - pp)
        * (F.lit(1).cast("double") / F.col("n1") + F.lit(1).cast("double") / F.col("n2"))
    )
    return s.select(
        "cohort", "x1", "n1", "x2", "n2",
        F.floor(z * 1_000_000).cast("long").alias("z_micro"),
    ).orderBy("cohort")


@query(
    "q119_group_bitmap",
    oracle="""
    WITH f AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
      FROM events GROUP BY user_id
    )
    SELECT CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS and_n,
           CAST(sum(CASE WHEN a = 1 OR b = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS or_n,
           CAST(sum(CASE WHEN a <> b THEN 1 ELSE 0 END) AS BIGINT) AS xor_n,
           CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS andnot_n
    FROM f
    """,
    note="ClickHouse groupBitmap algebra (bitmapAnd/Or/Xor/AndnotCardinality): "
    "the user-id sets of two behaviors combined under every bitmap "
    "operator, as cardinalities. The Spark plan is the flag-rollup "
    "form — ONE shuffle to user grain computing both membership bits, "
    "then a scalar combine — which is exactly what a roaring-bitmap "
    "engine computes, minus the bitmap materialization ClickHouse "
    "needs because its sets live inside a single server. At 100 TB "
    "the user-grain rollup is the reusable artifact (cache/bucket it "
    "once, answer every pairwise set question from it).",
)
def q119_group_bitmap(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("a"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("b"),
    )
    return f.agg(
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("long").alias("and_n"),
        F.sum(F.when((F.col("a") == 1) | (F.col("b") == 1), 1).otherwise(0))
        .cast("long").alias("or_n"),
        F.sum(F.when(F.col("a") != F.col("b"), 1).otherwise(0))
        .cast("long").alias("xor_n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0))
        .cast("long").alias("andnot_n"),
    )


@query(
    "x12_parts_footer_stats",
    oracle="""
    SELECT o_orderkey % 8 AS bucket,
           count(*) AS n_rows,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    note="ClickHouse system.parts / primary-index read as a query: "
    "orders lands in a Hive-partitioned layout (PARTITION BY "
    "analog), then per-part row counts and key min/max are answered "
    "from parquet FOOTER STATISTICS ONLY — minmax.collect_file_stats, "
    "which reads the footers on the driver at this table's size and "
    "fans the reads out as a mapInArrow over the file list above a "
    "threshold (r10: only tiny stats rows return, so 10^5-10^6 parts "
    "never serialize on the driver; both paths unit-pinned identical). "
    "No data task is launched for stats-bearing files (a per-partition "
    "Spark scan fallback keeps the result correct if a footer lacks "
    "stats). The oracle recomputes the same numbers from the raw rows, "
    "so what's verified is that the metadata path equals the data "
    "path. At 100 TB this is exactly the ClickHouse primary.idx "
    "economics: one small footer per part replaces scanning the part, "
    "and the planner's file pruning (x06) is this same read used as a "
    "filter.",
)
def x12_parts_footer_stats(spark, sf_dir):
    import os
    import tempfile

    from laion_spark.sources.minmax import collect_file_stats

    tune_session(spark)
    o = t(spark, sf_dir, "orders").withColumn(
        "bucket", F.pmod("o_orderkey", F.lit(8))
    )
    base = tempfile.mkdtemp(prefix="laion_parts_")
    o.write.partitionBy("bucket").mode("overwrite").parquet(base)

    # one (part, file) task per data file; the footer reads go through
    # collect_file_stats — driver loop at this table's size, mapInArrow
    # fan-out past the threshold (r10: the same parts query no longer
    # serializes on the driver at 10^5-10^6 files)
    tasks = []
    for bdir in sorted(os.listdir(base)):
        if not bdir.startswith("bucket="):
            continue
        for fn in sorted(os.listdir(os.path.join(base, bdir))):
            if fn.endswith(".parquet"):
                tasks.append((bdir, os.path.join(base, bdir, fn)))
    agg: dict[int, list] = {}
    for part, n, lo, hi, ok in collect_file_stats(spark, tasks, "o_orderkey"):
        b = int(part.split("=", 1)[1])
        cur = agg.setdefault(b, [0, None, None, False])
        cur[0] += n
        if not ok:
            cur[3] = True  # conservative: scan that part below
        else:
            cur[1] = lo if cur[1] is None else min(cur[1], lo)
            cur[2] = hi if cur[2] is None else max(cur[2], hi)
    rows = []
    for b in sorted(agg):
        n, lo, hi, missing = agg[b]
        if missing or lo is None:  # stats-less part: scan, never guess
            r = (
                spark.read.parquet(os.path.join(base, f"bucket={b}"))
                .agg(
                    F.count("*"), F.min("o_orderkey"), F.max("o_orderkey")
                )
                .collect()[0]
            )
            n, lo, hi = r[0], r[1], r[2]
        rows.append((b, n, lo, hi))
    return spark.createDataFrame(
        rows, "bucket long, n_rows long, min_key long, max_key long"
    ).orderBy("bucket")


@query(
    "q120_geohash",
    oracle=f"""
    WITH p AS (
      SELECT c_custkey,
             c_custkey % 360 - 180 AS lon, (c_custkey * 53) % 180 - 90 AS lat
      FROM customer WHERE c_custkey <= 30
    ), b AS (
      SELECT c_custkey, lon, lat,
             ((lon + 180) * 32768) // 360 AS lonb,
             ((lat + 90) * 32768) // 180 AS latb
      FROM p
    ), m AS (
      SELECT c_custkey, lon, lat, lonb, latb,
             CAST({_morton_sql('latb', 'lonb', 15)} AS BIGINT) AS ih
      FROM b
    )
    SELECT c_custkey, lon, lat, lonb, latb,
           {" || ".join(
               "substr('0123456789bcdefghjkmnpqrstuvwxyz',"
               f" CAST(((ih >> {25 - 5 * i}) & 31) + 1 AS INTEGER), 1)"
               for i in range(6)
           )} AS geohash,
           CAST({_morton_decode_sql('ih', 1, 15)} AS BIGINT) AS dlonb,
           CAST({_morton_decode_sql('ih', 0, 15)} AS BIGINT) AS dlatb
    FROM m ORDER BY c_custkey
    """,
    note="ClickHouse geohashEncode/geohashDecode at precision 6: "
    "integer-degree coordinates quantized to 15-bit bins with integer "
    "division (no float crosses the engine boundary), MSB-first "
    "bit-interleave (longitude on the odd/high lanes per the geohash "
    "spec), then base32 characters picked from the standard alphabet "
    "by substr. The interleave is decoded back to both bin indices "
    "in the same query, so encode->decode is hash-verified; decoding "
    "to degrees is the bin-center divide the note leaves to callers. "
    "Same unrolled shift/AND codegen as morton (q116) — geohash IS a "
    "base32-rendered Z-order key, which is why it also works as a "
    "spatial clustering/bucketing key at 100 TB.",
)
def q120_geohash(spark, sf_dir):
    c = t(spark, sf_dir, "customer").filter("c_custkey <= 30")
    lon = F.pmod(F.col("c_custkey"), F.lit(360)) - 180
    lat = F.pmod(F.col("c_custkey") * 53, F.lit(180)) - 90
    b = c.select(
        "c_custkey",
        lon.alias("lon"),
        lat.alias("lat"),
        F.expr("((c_custkey % 360 - 180) + 180) * 32768 DIV 360").alias("lonb"),
        F.expr("((c_custkey * 53) % 180 - 90 + 90) * 32768 DIV 180").alias("latb"),
    )

    def interleave15(xc, yc):
        out = F.lit(0).cast("long")
        for i in range(15):
            out = (
                out
                + F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i)
                + F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        return out

    def deinterleave15(mc, odd):
        out = F.lit(0).cast("long")
        for i in range(15):
            out = out + F.shiftleft(
                F.shiftright(mc, 2 * i + odd).bitwiseAND(F.lit(1)), i
            )
        return out

    m = b.withColumn("ih", interleave15(F.col("latb"), F.col("lonb")))
    alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    gh = F.concat(
        *[
            F.expr(
                f"substring('{alpha}', CAST(((ih >> {25 - 5 * i}) & 31) + 1 AS INT), 1)"
            )
            for i in range(6)
        ]
    )
    return m.select(
        "c_custkey",
        "lon",
        "lat",
        "lonb",
        "latb",
        gh.alias("geohash"),
        deinterleave15(F.col("ih"), 1).alias("dlonb"),
        deinterleave15(F.col("ih"), 0).alias("dlatb"),
    ).orderBy("c_custkey")


@query(
    "q121_bit_family",
    oracle="""
    WITH p AS (
      SELECT o_orderkey AS k, o_orderkey % 256 AS a,
             (o_orderkey * 7) % 256 AS b, o_orderkey % 8 AS r
      FROM orders WHERE o_orderkey <= 256
    )
    SELECT k,
           CAST(bit_count(k) AS BIGINT) AS popcnt,
           (k >> 3) & 1 AS bit3,
           ((a << r) | (a >> (8 - r))) & 255 AS rot8,
           CAST(bit_count(xor(a, b)) AS BIGINT) AS hamming
    FROM p ORDER BY k
    """,
    note="ClickHouse bit-function family: bitCount (popcount), bitTest, "
    "bitRotateLeft on the 8-bit ring, and bitHammingDistance "
    "(popcount of XOR — the kernel under SimHash near-dup distance, "
    "dedup.py:477). Pure integer shift/AND/OR/XOR codegen "
    "expressions riding the scan; r=0 degenerates correctly because "
    "a >> 8 is 0 for an 8-bit value. Zero shuffles before the ORDER "
    "BY.",
)
def q121_bit_family(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter("o_orderkey <= 256")
    return o.selectExpr(
        "o_orderkey AS k",
        "CAST(bit_count(o_orderkey) AS BIGINT) AS popcnt",
        "shiftright(o_orderkey, 3) & 1 AS bit3",
        "(shiftleft(o_orderkey % 256, CAST(o_orderkey % 8 AS INT))"
        " | shiftright(o_orderkey % 256, CAST(8 - o_orderkey % 8 AS INT))) & 255"
        " AS rot8",
        "CAST(bit_count((o_orderkey % 256) ^ ((o_orderkey * 7) % 256)) AS BIGINT)"
        " AS hamming",
    ).orderBy("k")


@query(
    "q122_weighted_agg_family",
    oracle="""
    WITH p AS (
      SELECT o_orderstatus AS status,
             CAST(floor(o_totalprice) AS BIGINT) AS usd,
             o_orderkey % 10 + 1 AS w
      FROM orders
    )
    SELECT status,
           (CAST(sum(usd * w) AS BIGINT) * 1000000)
             // CAST(sum(w) AS BIGINT) AS avgw_micro,
           CAST(sum(usd) AS BIGINT) AS sum_usd,
           count(*) AS n,
           CAST(sum(w) AS BIGINT) AS w_total
    FROM p GROUP BY status ORDER BY status
    """,
    note="ClickHouse avgWeighted + sumCount: the weighted mean emitted "
    "as one BIGINT integer division of exact integer sums (weights "
    "and integer dollars — no float accumulates across partitions), "
    "and sumCount's (sum, count) pair as two columns. One hash "
    "aggregate with map-side combine; the micro-unit division is the "
    "only post-aggregation op.",
)
def q122_weighted_agg_family(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    p = o.select(
        F.col("o_orderstatus").alias("status"),
        F.floor("o_totalprice").cast("long").alias("usd"),
        (F.pmod("o_orderkey", F.lit(10)) + 1).alias("w"),
    )
    return (
        p.groupBy("status")
        .agg(
            F.sum(F.col("usd") * F.col("w")).cast("long").alias("sw"),
            F.sum("usd").cast("long").alias("sum_usd"),
            F.count("*").alias("n"),
            F.sum("w").cast("long").alias("w_total"),
        )
        .selectExpr(
            "status",
            "(sw * 1000000) DIV w_total AS avgw_micro",
            "sum_usd",
            "n",
            "w_total",
        )
        .orderBy("status")
    )


@query(
    "q123_array_transform_family",
    oracle="""
    WITH a AS (
      SELECT l_orderkey AS okey,
             list(CAST(l_quantity AS BIGINT)
                  ORDER BY l_linenumber, l_quantity) AS arr
      FROM lineitem WHERE l_orderkey <= 40 GROUP BY l_orderkey
    )
    SELECT okey,
           array_to_string(arr, ',') AS base,
           array_to_string(
             list_filter(arr, (x, i) -> i = 1 OR x != arr[i - 1]), ','
           ) AS compacted,
           array_to_string(
             list_transform(arr, (x, i) ->
               CASE WHEN i = 1 THEN 0 ELSE x - arr[i - 1] END), ','
           ) AS diffs,
           array_to_string(arr[2:] || arr[1:1], ',') AS rot_left,
           array_to_string(arr[2:] || [CAST(0 AS BIGINT)], ',') AS shift_left
    FROM a ORDER BY okey
    """,
    note="ClickHouse array transform family #2: arrayCompact "
    "(consecutive-dup removal), arrayDifference (first element 0 per "
    "the CH contract), arrayRotateLeft(1) and arrayShiftLeft(1, 0) — "
    "all as JVM higher-order functions and slice/concat over a "
    "per-order line array bounded by lines-per-order (never a "
    "corpus-wide collect). Index-aware lambdas ((x,i) with "
    "element_at back-reference) are the Spark idiom for CH's "
    "neighbor-aware array functions; arrays cross the driver as "
    "joined strings.",
)
def q123_array_transform_family(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter("l_orderkey <= 40")
    a = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("l_linenumber", F.col("l_quantity").cast("long").alias("q"))
                )
            ),
            lambda s: s["q"],
        ).alias("arr")
    )
    arr = F.col("arr")
    joined = lambda c: F.array_join(F.transform(c, lambda x: x.cast("string")), ",")
    return a.select(
        "okey",
        joined(arr).alias("base"),
        joined(
            F.filter(arr, lambda x, i: (i == 0) | (x != F.element_at(arr, i)))
        ).alias("compacted"),
        joined(
            F.transform(
                arr,
                lambda x, i: F.when(i == 0, F.lit(0).cast("long")).otherwise(
                    x - F.element_at(arr, i)
                ),
            )
        ).alias("diffs"),
        joined(
            F.concat(F.slice(arr, 2, F.size(arr) - 1), F.slice(arr, 1, 1))
        ).alias("rot_left"),
        joined(
            F.concat(
                F.slice(arr, 2, F.size(arr) - 1),
                F.array(F.lit(0).cast("long")),
            )
        ).alias("shift_left"),
    ).orderBy("okey")


@query(
    "q124_minhash_signature",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE doc_id < 60 AND n_chars > 50
    ), s AS (
      SELECT doc_id,
             list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS sh
      FROM d
    )
    SELECT doc_id,
           list_aggregate(list_transform(sh, x -> md5('1:' || x)), 'min') AS mh1,
           list_aggregate(list_transform(sh, x -> md5('2:' || x)), 'min') AS mh2,
           list_aggregate(list_transform(sh, x -> md5('3:' || x)), 'min') AS mh3,
           list_aggregate(list_transform(sh, x -> md5('4:' || x)), 'min') AS mh4
    FROM s ORDER BY doc_id
    """,
    note="ClickHouse wordShingleMinHash as a column function: 3-word "
    "shingles, k=4 seeded MinHash lanes, each lane the minimum of a "
    "PORTABLE hash (md5 of seed-prefixed shingle — identical hex in "
    "any engine, unlike xxhash64 whose seeding differs, which is why "
    "the dedup operators declare approx while THIS entry can be "
    "hash-verified exactly). Min over a multiset equals min over the "
    "set, so no distinct pass is needed. The production dedup path "
    "(dedup.py) materializes shingles once and uses int64 hashes; "
    "this is the function-parity form.",
)
def q124_minhash_signature(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter("doc_id < 60 AND n_chars > 50")
    s = d.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(split(text, ' ')) - 2),"
            " i -> concat_ws(' ', split(text, ' ')[i - 1],"
            " split(text, ' ')[i], split(text, ' ')[i + 1]))"
        ).alias("sh"),
    )
    cols = [
        F.array_min(
            F.transform(F.col("sh"), lambda x: F.md5(F.concat(F.lit(f"{j}:"), x)))
        ).alias(f"mh{j}")
        for j in (1, 2, 3, 4)
    ]
    return s.select("doc_id", *cols).orderBy("doc_id")


@query(
    "d15_minhash_estimate",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' ') AS w
      FROM documents WHERE doc_id < 40 AND n_chars > 50
    ), s AS (
      SELECT doc_id, source,
             list_transform(range(1, len(w)),
               i -> w[i] || ' ' || w[i + 1]) AS sh
      FROM d
    ), sig AS (
      SELECT doc_id, source,
             list_distinct(sh) AS ds,
             list_transform(range(1, 17), j ->
               list_aggregate(list_transform(sh,
                 x -> md5(CAST(j AS VARCHAR) || ':' || x)), 'min')) AS sig
      FROM s
    )
    SELECT a.doc_id AS pa, b.doc_id AS pb,
           CAST(list_aggregate(list_transform(range(1, 17),
             j -> CASE WHEN a.sig[j] = b.sig[j] THEN 1 ELSE 0 END), 'sum')
             AS BIGINT) AS agree16,
           (CAST(len(list_intersect(a.ds, b.ds)) AS BIGINT) * 1000000)
             // len(list_distinct(a.ds || b.ds)) AS jac_micro
    FROM sig a JOIN sig b ON a.source = b.source AND a.doc_id < b.doc_id
    ORDER BY pa, pb LIMIT 30
    """,
    note="MinHash Jaccard ESTIMATION verified exactly: k=16 portable "
    "(md5) MinHash lanes per document over 2-word shingles, pairs "
    "blocked by source (the LSH-bucket stand-in — never all-pairs "
    "across the corpus), and for each pair BOTH the lane-agreement "
    "count (the MinHash estimate numerator, E[agree/k] = J) and the "
    "exact distinct-shingle Jaccard in integer micros. Because the "
    "hash is portable, even the ESTIMATOR's value is deterministic "
    "and hash-verified cross-engine — the estimate-vs-exact gap is "
    "data, not noise. The production path (dedup.py minhash_lsh_"
    "pairs) is this same construction with int64 hashes, banding, "
    "and a verify join.",
)
def d15_minhash_estimate(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter("doc_id < 40 AND n_chars > 50")
    s = d.select(
        "doc_id",
        "source",
        F.expr(
            "transform(sequence(1, size(split(text, ' ')) - 1),"
            " i -> concat_ws(' ', split(text, ' ')[i - 1], split(text, ' ')[i]))"
        ).alias("sh"),
    )
    sig = s.select(
        "doc_id",
        "source",
        F.array_distinct("sh").alias("ds"),
        F.expr(
            "transform(sequence(1, 16), j ->"
            " array_min(transform(sh, x -> md5(concat(cast(j AS STRING), ':', x)))))"
        ).alias("sig"),
    )
    a = sig.select(
        F.col("doc_id").alias("pa"), F.col("source").alias("source"),
        F.col("ds").alias("dsa"), F.col("sig").alias("siga"),
    )
    b = sig.select(
        F.col("doc_id").alias("pb"), F.col("source").alias("source"),
        F.col("ds").alias("dsb"), F.col("sig").alias("sigb"),
    )
    inter = F.size(F.array_intersect("dsa", "dsb")).cast("long")
    uni = F.size(F.array_distinct(F.concat("dsa", "dsb"))).cast("long")
    agree = F.aggregate(
        F.zip_with("siga", "sigb", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, "source")
        .filter(F.col("pa") < F.col("pb"))
        .select(
            "pa",
            "pb",
            agree.alias("agree16"),
            F.expr(
                "(CAST(size(array_intersect(dsa, dsb)) AS BIGINT) * 1000000)"
                " DIV size(array_distinct(concat(dsa, dsb)))"
            ).alias("jac_micro"),
        )
        .orderBy("pa", "pb")
        .limit(30)
    )


@query(
    "q125_quantiles_exact_multi",
    oracle="""
    WITH p AS (
      SELECT o_orderstatus AS status,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), r AS (
      SELECT status, cents,
             row_number() OVER (PARTITION BY status ORDER BY cents) AS rn,
             count(*) OVER (PARTITION BY status) AS n
      FROM p
    )
    SELECT status,
           CAST(max(CASE WHEN rn = (25 * (n - 1)) // 100 + 1 THEN cents END)
                AS BIGINT) AS p25_cents,
           CAST(max(CASE WHEN rn = (50 * (n - 1)) // 100 + 1 THEN cents END)
                AS BIGINT) AS p50_cents,
           CAST(max(CASE WHEN rn = (75 * (n - 1)) // 100 + 1 THEN cents END)
                AS BIGINT) AS p75_cents,
           CAST(max(n) AS BIGINT) AS n
    FROM r GROUP BY status ORDER BY status
    """,
    note="ClickHouse quantilesExact(0.25, 0.5, 0.75) — the multi-level "
    "exact form: one sort per group serves ALL requested levels "
    "(rank targets floor(q*(n-1))+1, CH's lower-value convention), "
    "selected by conditional aggregation so no per-level pass "
    "repeats. Cent-integer values make rank selection engine-exact; "
    "tie order cannot matter because rank selection returns a VALUE "
    "and equal values are interchangeable. At 100 TB the same shape "
    "runs on the pre-aggregated (value, count) rollup — weighted "
    "rank walk (q48's weighted-quantile machinery) instead of "
    "row_number over raw rows.",
)
def q125_quantiles_exact_multi(spark, sf_dir):
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    p = o.select(
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    w = Window.partitionBy("status").orderBy("cents")
    wn = Window.partitionBy("status")
    r = p.select(
        "status",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    pick = lambda q: F.max(
        F.when(F.col("rn") == F.expr(f"({q} * (n - 1)) DIV 100 + 1"), F.col("cents"))
    ).cast("long")
    return (
        r.groupBy("status")
        .agg(
            pick(25).alias("p25_cents"),
            pick(50).alias("p50_cents"),
            pick(75).alias("p75_cents"),
            F.max("n").cast("long").alias("n"),
        )
        .orderBy("status")
    )


@query(
    "x13_orc_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
           min(doc_id) AS first_doc
    FROM documents GROUP BY lang ORDER BY lang
    """,
    note="ORC format round-trip (the reference's parquet-centric ETL "
    "generalized to Spark's other first-class columnar format): "
    "documents written as zstd ORC, read back, and the per-language "
    "rollup must equal the oracle computed on the PRE-write table — "
    "so type fidelity through the ORC writer/reader pair is what's "
    "verified (same x07/x08 discipline as CSV/JSONL). ORC carries "
    "its own footer statistics and predicate pushdown in Spark, so "
    "the x06-style skipping story ports to it unchanged.",
)
def x13_orc_roundtrip(spark, sf_dir):
    import tempfile

    tune_session(spark)
    d = t(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="laion_orc_")
    d.write.mode("overwrite").option("compression", "zstd").orc(base)
    return (
        spark.read.orc(base)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang")
    )


@query(
    "q126_int_arithmetic_family",
    oracle="""
    WITH p AS (
      SELECT o_orderkey AS k, o_orderkey % 199 - 99 AS a,
             o_orderkey % 7 + 1 AS b, o_orderkey % 5 AS bz
      FROM orders WHERE o_orderkey <= 300
    )
    SELECT k, a, b,
           a // b AS trunc_div,
           (a - ((a % b) + b) % b) // b AS floor_div,
           a % b AS mod_c,
           ((a % b) + b) % b AS mod_pos,
           coalesce(a // nullif(bz, 0), 0) AS idiv_or_zero,
           CAST(gcd(abs(a), b) AS BIGINT) AS g,
           CAST(lcm(abs(a), b) AS BIGINT) AS l
    FROM p ORDER BY k
    """,
    note="ClickHouse integer-arithmetic family: intDiv in BOTH "
    "conventions (truncating — Spark DIV / DuckDB // — and flooring, "
    "derived as (a - pmod(a,b)) DIV b so negative dividends are "
    "exercised and the difference is visible in the result), C-style "
    "modulo and positive pmod, intDivOrZero via nullif, and gcd/lcm "
    "— Spark builds gcd from a bounded divisor sweep (array_max over "
    "filter(sequence(1, min(|a|,b)))) and the ORACLE uses DuckDB's "
    "NATIVE gcd/lcm, so the construction is checked against an "
    "independent implementation, not an echo of itself. Bounded "
    "domain (|a| <= 99) keeps the sweep O(100); production gcd on "
    "unbounded ints would unroll Euclid steps instead (noted, not "
    "needed by any reference query).",
)
def q126_int_arithmetic_family(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter("o_orderkey <= 300")
    return o.selectExpr(
        "o_orderkey AS k",
        "o_orderkey % 199 - 99 AS a",
        "o_orderkey % 7 + 1 AS b",
        "o_orderkey % 5 AS bz",
    ).selectExpr(
        "k", "a", "b",
        "a DIV b AS trunc_div",
        "(a - pmod(a, b)) DIV b AS floor_div",
        "a % b AS mod_c",
        "pmod(a, b) AS mod_pos",
        "coalesce(a DIV nullif(bz, 0), 0) AS idiv_or_zero",
        "CAST(CASE WHEN abs(a) = 0 THEN b ELSE"
        " array_max(filter(sequence(1, least(abs(a), b)),"
        " d -> abs(a) % d = 0 AND b % d = 0)) END AS BIGINT) AS g",
        "CAST(abs(a) * b DIV (CASE WHEN abs(a) = 0 THEN b ELSE"
        " array_max(filter(sequence(1, least(abs(a), b)),"
        " d -> abs(a) % d = 0 AND b % d = 0)) END) AS BIGINT) AS l",
    ).orderBy("k")


@query(
    "q127_parse_datetime_family",
    oracle="""
    WITH s AS (
      SELECT o_orderkey AS k, o_orderkey % 3 AS fmt,
             CASE o_orderkey % 3
               WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
               WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
               ELSE CAST(CAST(epoch(o_orderdate) AS BIGINT) AS VARCHAR)
             END AS raw
      FROM orders WHERE o_orderkey <= 2000
    ), p AS (
      SELECT k, fmt, raw,
             coalesce(
               try_strptime(raw, '%Y-%m-%d %H:%M:%S'),
               try_strptime(raw, '%d/%m/%Y'),
               CASE WHEN regexp_matches(raw, '^[0-9]+$')
                    THEN to_timestamp(CAST(raw AS BIGINT))::TIMESTAMP END
             ) AS ts
      FROM s
    )
    SELECT fmt, count(*) AS n,
           CAST(count(ts) AS BIGINT) AS n_parsed,
           CAST(min(epoch(ts)) AS BIGINT) AS min_epoch,
           CAST(max(epoch(ts)) AS BIGINT) AS max_epoch
    FROM p GROUP BY fmt ORDER BY fmt
    """,
    note="ClickHouse parseDateTimeBestEffort: a deterministic fallback "
    "chain of try_to_timestamp over explicit formats (ISO datetime, "
    "European d/m/Y, raw epoch seconds), counted and range-checked "
    "per format class — try-parse returns NULL instead of failing "
    "the task, which is the property that matters at 100 TB (one "
    "malformed row must not kill a stage; the n vs n_parsed pair is "
    "the data-quality ledger). Timestamps reduce to epoch seconds "
    "through the session-UTC discipline both engines share; no "
    "locale-dependent month names cross the boundary.",
)
def q127_parse_datetime_family(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter("o_orderkey <= 2000")
    s = o.selectExpr(
        "o_orderkey AS k",
        "o_orderkey % 3 AS fmt",
        "CASE CAST(o_orderkey % 3 AS INT)"
        " WHEN 0 THEN date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss')"
        " WHEN 1 THEN date_format(o_orderdate, 'dd/MM/yyyy')"
        " ELSE CAST(unix_timestamp(o_orderdate) AS STRING)"
        " END AS raw",
    )
    p = s.selectExpr(
        "k", "fmt", "raw",
        "coalesce("
        " try_to_timestamp(raw, 'yyyy-MM-dd HH:mm:ss'),"
        " try_to_timestamp(raw, 'dd/MM/yyyy'),"
        " CASE WHEN raw RLIKE '^[0-9]+$'"
        "      THEN timestamp_seconds(CAST(raw AS BIGINT)) END"
        ") AS ts",
    )
    return (
        p.groupBy("fmt")
        .agg(
            F.count("*").alias("n"),
            F.count("ts").cast("long").alias("n_parsed"),
            F.min(F.unix_timestamp("ts")).cast("long").alias("min_epoch"),
            F.max(F.unix_timestamp("ts")).cast("long").alias("max_epoch"),
        )
        .orderBy("fmt")
    )


@query(
    "q129_query_normalize",
    oracle="""
    WITH q AS (
      SELECT 'SELECT v FROM t WHERE user = ' || CAST(user_id AS VARCHAR)
             || ' AND kind = ''' || event_type || ''' AND score > '
             || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS raw
      FROM events WHERE user_id < 200
    ), n AS (
      SELECT regexp_replace(
               regexp_replace(raw, '''[^'']*''', '?', 'g'),
               '[0-9]+', '?', 'g') AS template
      FROM q
    )
    SELECT template, md5(template) AS template_hash, count(*) AS n
    FROM n GROUP BY template ORDER BY template
    """,
    note="ClickHouse normalizeQuery / normalizedQueryHash — the "
    "query-log dedup primitive: literals (quoted strings, then "
    "numbers) collapse to placeholders via two global regex passes "
    "(patterns chosen inside the RE2/Java common dialect — no "
    "lookarounds, no escapes that differ), grouped with a PORTABLE "
    "md5 template hash so the hash itself is verified cross-engine, "
    "not just the grouping. The workload collapses to one template "
    "per query shape exactly as a query-log analysis should; plain "
    "scan + hash aggregate, no Python.",
)
def q129_query_normalize(spark, sf_dir):
    e = t(spark, sf_dir, "events").filter("user_id < 200")
    raw = F.concat(
        F.lit("SELECT v FROM t WHERE user = "),
        F.col("user_id").cast("string"),
        F.lit(" AND kind = '"),
        F.col("event_type"),
        F.lit("' AND score > "),
        F.floor("value").cast("long").cast("string"),
    )
    template = F.regexp_replace(
        F.regexp_replace(raw, "'[^']*'", "?"), "[0-9]+", "?"
    )
    return (
        e.select(template.alias("template"))
        .groupBy("template")
        .agg(F.count("*").alias("n"))
        .select("template", F.md5("template").alias("template_hash"), "n")
        .orderBy("template")
    )


@query(
    "t20_source_mixing_weights",
    oracle="""
    WITH s AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS size_chars,
             sqrt(CAST(sum(n_chars) AS BIGINT)) AS w
      FROM documents GROUP BY source
    ), tot AS (
      SELECT list_aggregate(list(w ORDER BY source), 'sum') AS wsum FROM s
    )
    SELECT s.source, s.n_docs, s.size_chars,
           CAST(floor(s.w / tot.wsum * 1000000) AS BIGINT) AS weight_micro
    FROM s, tot ORDER BY s.source
    """,
    note="Training-mixture alpha-sampling weights (the XLM-R / "
    "multilingual-LM recipe p_i ~ size_i^alpha, here alpha=0.5): "
    "per-source corpus size, sqrt-damped and normalized to micro "
    "weights. Determinism discipline: sqrt is IEEE "
    "correctly-rounded (exact cross-engine, unlike pow(x, 0.7)), "
    "and the normalizing sum is folded over the sources in SORTED "
    "order on both engines — an unordered float sum across groups "
    "would be partition-order-dependent. The per-source rollup is "
    "one map-side-combined aggregate; the 20-row weight table then "
    "broadcasts to drive stratified sampling (t09) at any corpus "
    "size.",
)
def t20_source_mixing_weights(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("size_chars"),
    ).withColumn("w", F.sqrt("size_chars"))
    tot = s.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", "w"))),
                lambda x: x["w"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("wsum")
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "size_chars",
            F.floor(F.col("w") / F.col("wsum") * 1_000_000)
            .cast("long")
            .alias("weight_micro"),
        )
        .orderBy("source")
    )


@query(
    "x14_zorder_layout",
    oracle="""
    WITH p AS (
      SELECT o_orderpriority AS priority,
             o_orderkey % 200 AS zx,
             (o_orderkey // 200) % 200 AS zy,
             CAST(floor(o_totalprice) AS BIGINT) AS usd
      FROM orders
    )
    SELECT priority, count(*) AS n, CAST(sum(usd) AS BIGINT) AS total_usd
    FROM p WHERE zx BETWEEN 30 AND 70 AND zy BETWEEN 1 AND 45
    GROUP BY priority ORDER BY priority
    """,
    note="Z-order clustered layout end-to-end (sources/zorder.py — the "
    "ClickHouse ORDER BY mortonEncode(a,b) / Delta OPTIMIZE ZORDER "
    "analog): orders written repartitionByRange on the interleaved "
    "key of two independent derived dimensions, read back through "
    "zorder_pruned_scan, which keeps only files whose footer "
    "[min,max] intersects BOTH box predicates — one layout serves "
    "data skipping on either column (proved against a single-column "
    "sort layout in tests/test_zorder.py). Pruning is conservative, "
    "so the 2-dim box aggregate must equal the oracle computed on "
    "the raw table regardless of file boundaries. At 100 TB this is "
    "the difference between one clustered layout and maintaining a "
    "sorted copy per query dimension.",
)
def x14_zorder_layout(spark, sf_dir):
    import tempfile

    from laion_spark.sources.zorder import write_zordered, zorder_pruned_scan

    tune_session(spark)
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.pmod("o_orderkey", F.lit(200)).alias("zx"),
        F.pmod(F.expr("o_orderkey DIV 200"), F.lit(200)).alias("zy"),
        F.floor("o_totalprice").cast("long").alias("usd"),
    )
    base = tempfile.mkdtemp(prefix="laion_zorder_")
    write_zordered(o, [("zx", 0, 199), ("zy", 0, 199)], base, files=16)
    df, _stats = zorder_pruned_scan(
        spark, base, {"zx": (30, 70), "zy": (1, 45)}
    )
    return (
        df.groupBy("priority")
        .agg(
            F.count("*").alias("n"), F.sum("usd").cast("long").alias("total_usd")
        )
        .orderBy("priority")
    )


@query(
    "e29_funnel_latency",
    oracle="""
    WITH c AS (
      SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS c_ts
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(CAST(e.ts AS TIMESTAMP)) > c.c_ts
      GROUP BY e.user_id
    )
    SELECT c.user_id % 4 AS cohort,
           count(*) AS n_converted,
           CAST(min(p.p_ts - c.c_ts) AS BIGINT) AS min_latency_us,
           CAST(max(p.p_ts - c.c_ts) AS BIGINT) AS max_latency_us,
           CAST(sum(p.p_ts - c.c_ts) AS BIGINT) AS sum_latency_us
    FROM c JOIN p ON c.user_id = p.user_id
    GROUP BY c.user_id % 4 ORDER BY cohort
    """,
    note="Funnel conversion latency (the companion analysis to "
    "windowFunnel e06: not just WHETHER users convert but HOW FAST): "
    "first click per user, first purchase strictly after it, latency "
    "statistics per cohort in exact integer micros. Two user-keyed "
    "rollups and one join on the same key — on a cluster all three "
    "share one hash partitioning, so the whole analysis is a single "
    "exchange of (user, ts) pairs regardless of corpus size.",
)
def e29_funnel_latency(spark, sf_dir):
    e = with_event_time(t(spark, sf_dir, "events"))
    c = (
        e.filter("event_type = 'click'")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("c_ts"))
    )
    p = (
        e.filter("event_type = 'purchase'")
        .join(c, "user_id")
        .filter(F.col("ts_us") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("p_ts"))
    )
    lat = F.col("p_ts") - F.col("c_ts")
    return (
        c.join(p, "user_id")
        .groupBy(F.pmod("user_id", F.lit(4)).alias("cohort"))
        .agg(
            F.count("*").alias("n_converted"),
            F.min(lat).cast("long").alias("min_latency_us"),
            F.max(lat).cast("long").alias("max_latency_us"),
            F.sum(lat).cast("long").alias("sum_latency_us"),
        )
        .orderBy("cohort")
    )


@query(
    "q130_asof_forward",
    oracle="""
    SELECT user_id, event_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) ASC, event_id ASC) AS rn
      FROM events
      WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15 00:00:00'
    ) WHERE rn = 1
    ORDER BY user_id
    """,
    note="Forward as-of: the earliest event AT-OR-AFTER the probe "
    "instant per user — ClickHouse ASOF JOIN with the >= direction "
    "(e03 covers the standard latest-before form; together they "
    "complete both ASOF inequality directions). Same ordered-window "
    "shape, deterministic (ts, event_id) tie-break; partition-prunes "
    "by time at the scan when the layout is date-partitioned.",
)
def q130_asof_forward(spark, sf_dir):
    from pyspark.sql import Window

    e = with_event_time(t(spark, sf_dir, "events")).filter(
        F.col("ts_t") >= F.lit("2024-01-15 00:00:00").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id", "event_type", "ts_us")
        .orderBy("user_id")
    )


@query(
    "x15_csv_malformed_ledger",
    oracle="""
    SELECT lang,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_good,
           CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bad,
           CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_good
    FROM documents GROUP BY lang ORDER BY lang
    """,
    note="Malformed-input ledger (ClickHouse input_format_allow_errors_*; "
    "the at-100-TB property that one bad row must not kill a stage): "
    "a CSV written with a planted non-numeric n_chars on every "
    "doc_id%10=0 row is read back under PERMISSIVE mode with a "
    "_corrupt_record column — corrupt rows surface as NULL-typed "
    "fields plus the preserved raw line (quarantine-able), good rows "
    "parse normally, and the per-language good/bad/row counts must "
    "equal the oracle's arithmetic on the source table. FAILFAST is "
    "one option away when a pipeline would rather die loudly.",
)
def x15_csv_malformed_ledger(spark, sf_dir):
    import tempfile

    tune_session(spark)
    d = t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "lang",
        "CASE WHEN doc_id % 10 = 0 THEN 'NA' ELSE CAST(n_chars AS STRING) END"
        " AS n_chars",
    )
    base = tempfile.mkdtemp(prefix="laion_csvbad_")
    d.write.mode("overwrite").option("header", True).csv(base)
    back = (
        spark.read.schema(
            "doc_id LONG, lang STRING, n_chars LONG, _corrupt_record STRING"
        )
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(base)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(~bad, 1).otherwise(0)).cast("long").alias("n_good"),
            F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_bad"),
            F.sum(F.when(~bad, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_good"),
        )
        .orderBy("lang")
    )


# --- round-7 session-3 additions: statistics, hierarchy, curation ----------


@query(
    "q131_anova_oneway",
    oracle="""
    WITH s AS (
      SELECT count(*) AS n,
             count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS na,
             count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS nn,
             count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS nr,
             CAST(sum(CASE WHEN l_returnflag = 'A'
                   THEN CAST(floor(l_extendedprice) AS BIGINT) END) AS BIGINT) AS sa,
             CAST(sum(CASE WHEN l_returnflag = 'N'
                   THEN CAST(floor(l_extendedprice) AS BIGINT) END) AS BIGINT) AS sn,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                   THEN CAST(floor(l_extendedprice) AS BIGINT) END) AS BIGINT) AS sr,
             CAST(sum(CASE WHEN l_returnflag = 'A'
                   THEN CAST(floor(l_extendedprice) AS BIGINT)
                        * CAST(floor(l_extendedprice) AS BIGINT) END) AS BIGINT) AS qa,
             CAST(sum(CASE WHEN l_returnflag = 'N'
                   THEN CAST(floor(l_extendedprice) AS BIGINT)
                        * CAST(floor(l_extendedprice) AS BIGINT) END) AS BIGINT) AS qn,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                   THEN CAST(floor(l_extendedprice) AS BIGINT)
                        * CAST(floor(l_extendedprice) AS BIGINT) END) AS BIGINT) AS qr
      FROM lineitem
    ), d AS (
      SELECT n,
             CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
             + CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE)
             + CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE) AS btw,
             CAST(sa + sn + sr AS DOUBLE) AS st,
             CAST(qa + qn + qr AS DOUBLE) AS qt
      FROM s
    )
    SELECT n AS n_total,
           CAST(2 AS BIGINT) AS df_between,
           CAST(n - 3 AS BIGINT) AS df_within,
           CAST(floor(btw - st * st / CAST(n AS DOUBLE)) AS BIGINT)
             AS ssb_floor,
           CAST(floor(qt - btw) AS BIGINT) AS ssw_floor,
           CAST(floor(((btw - st * st / CAST(n AS DOUBLE))
                       * CAST(n - 3 AS DOUBLE)) * 1000000
                      / ((qt - btw) * 2.0)) AS BIGINT) AS f_micro
    FROM d
    """,
    note="ClickHouse analysisOfVariance (one-way ANOVA F) over order-"
    "dollar values grouped by the three return flags: exact BIGINT "
    "sufficient statistics per group from ONE pass (every sum < 2^53 "
    "so the double casts are exact), then the closed-form F as an "
    "identical IEEE expression in both engines, floored to micros — "
    "the q113 corrMatrix determinism pattern. A map-side-combined "
    "single aggregate is the only 100 TB-safe shape for grouped "
    "statistics (no per-group re-scan, no double-pass mean).",
)
def q131_anova_oneway(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    x = F.floor("l_extendedprice").cast("long")

    def per(g, col, alias):
        return F.sum(F.when(F.col("l_returnflag") == g, col)).cast("long").alias(alias)

    s = li.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("l_returnflag") == "A", 1)).alias("na"),
        F.count(F.when(F.col("l_returnflag") == "N", 1)).alias("nn"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("nr"),
        per("A", x, "sa"), per("N", x, "sn"), per("R", x, "sr"),
        per("A", x * x, "qa"), per("N", x * x, "qn"), per("R", x * x, "qr"),
    )

    def dd(c):
        return F.col(c).cast("double")

    btw = (
        dd("sa") * dd("sa") / dd("na")
        + dd("sn") * dd("sn") / dd("nn")
        + dd("sr") * dd("sr") / dd("nr")
    )
    st = (F.col("sa") + F.col("sn") + F.col("sr")).cast("double")
    qt = (F.col("qa") + F.col("qn") + F.col("qr")).cast("double")
    ssb = btw - st * st / dd("n")
    ssw = qt - btw
    return s.select(
        F.col("n").alias("n_total"),
        F.lit(2).cast("long").alias("df_between"),
        (F.col("n") - 3).cast("long").alias("df_within"),
        F.floor(ssb).cast("long").alias("ssb_floor"),
        F.floor(ssw).cast("long").alias("ssw_floor"),
        F.floor((ssb * (F.col("n") - 3).cast("double")) * 1000000 / (ssw * F.lit(2.0)))
        .cast("long")
        .alias("f_micro"),
    )


@query(
    "q132_robust_median_mad",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS priority,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), m AS (
      SELECT priority, count(*) AS n, median(cents) AS med_cents
      FROM c GROUP BY priority
    )
    SELECT m.priority, m.n, m.med_cents,
           median(abs(CAST(c.cents AS DOUBLE) - m.med_cents)) AS mad_cents
    FROM c JOIN m ON c.priority = m.priority
    GROUP BY m.priority, m.n, m.med_cents
    ORDER BY m.priority
    """,
    note="ClickHouse medianExact + medianAbsoluteDeviation (robust "
    "location/scale): exact interpolated median of integer order "
    "cents per priority class, then the median of absolute deviations "
    "from it. Cents are exact in DOUBLE and every interpolation "
    "midpoint is a dyadic rational, so both engines produce bit-equal "
    "results with no rounding step. Two grouped passes with a "
    "broadcast-size join between them — the canonical exact-quantile "
    "shape at 100 TB (the approx path is the KLL entry q68).",
)
def q132_robust_median_mad(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    m = o.groupBy("priority").agg(
        F.count("*").alias("n"), F.median("cents").alias("med_cents")
    )
    return (
        o.join(F.broadcast(m), "priority")
        .groupBy("priority", "n", "med_cents")
        .agg(
            F.median(F.abs(F.col("cents").cast("double") - F.col("med_cents"))).alias(
                "mad_cents"
            )
        )
        .select("priority", "n", "med_cents", "mad_cents")
        .orderBy("priority")
    )


@query(
    "q133_information_value",
    oracle="""
    WITH g AS (
      SELECT c.c_mktsegment AS segment,
             count(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 1 END) AS n_bad,
             count(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                   THEN 1 END) AS n_good
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    ), tot AS (
      SELECT sum(n_bad) AS tb, sum(n_good) AS tg FROM g
    )
    SELECT g.segment, g.n_good, g.n_bad,
           round(ln((CAST(g.n_good AS DOUBLE) / CAST(tot.tg AS DOUBLE))
                    / (CAST(g.n_bad AS DOUBLE) / CAST(tot.tb AS DOUBLE))), 6)
             AS woe,
           round((CAST(g.n_good AS DOUBLE) / CAST(tot.tg AS DOUBLE)
                  - CAST(g.n_bad AS DOUBLE) / CAST(tot.tb AS DOUBLE))
                 * ln((CAST(g.n_good AS DOUBLE) / CAST(tot.tg AS DOUBLE))
                      / (CAST(g.n_bad AS DOUBLE) / CAST(tot.tb AS DOUBLE))), 6)
             AS iv_term
    FROM g CROSS JOIN tot
    ORDER BY g.segment
    """,
    note="ClickHouse categoricalInformationValue parity: weight-of-"
    "evidence and the per-category IV term for market segment vs the "
    "urgent-order outcome. Counts are exact integers; the WOE log "
    "ratio is one identical IEEE expression rounded at 6dp (the "
    "entropy/q55 libm declaration). One grouped pass plus a one-row "
    "totals broadcast — IV over any cardinality is a single shuffle "
    "at 100 TB.",
)
def q133_information_value(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    bad = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    g = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.when(bad, 1)).alias("n_bad"),
            F.count(F.when(~bad, 1)).alias("n_good"),
        )
    )
    tot = g.agg(F.sum("n_bad").alias("tb"), F.sum("n_good").alias("tg"))
    gr = F.col("n_good").cast("double") / F.col("tg").cast("double")
    br = F.col("n_bad").cast("double") / F.col("tb").cast("double")
    woe = F.log(gr / br)
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "n_good",
            "n_bad",
            F.round(woe, 6).alias("woe"),
            F.round((gr - br) * woe, 6).alias("iv_term"),
        )
        .orderBy("segment")
    )


@query(
    "q134_group_array_intersect",
    oracle="""
    WITH ud AS (
      SELECT user_id, count(DISTINCT epoch_us(CAST(ts AS TIMESTAMP))
                            // 86400000000) AS n_days
      FROM events GROUP BY user_id
    ), ut AS (
      SELECT user_id, event_type,
             count(DISTINCT epoch_us(CAST(ts AS TIMESTAMP))
                   // 86400000000) AS n_typed
      FROM events GROUP BY user_id, event_type
    )
    SELECT ud.user_id, ud.n_days,
           count(CASE WHEN ut.n_typed = ud.n_days THEN 1 END) AS n_common,
           coalesce(string_agg(CASE WHEN ut.n_typed = ud.n_days
                               THEN ut.event_type END, ','
                               ORDER BY ut.event_type), '') AS common_types
    FROM ud JOIN ut ON ud.user_id = ut.user_id
    GROUP BY ud.user_id, ud.n_days
    ORDER BY ud.user_id
    """,
    note="ClickHouse groupArrayIntersect (24.x): the set of elements "
    "present in EVERY row of a group — here the event types a user "
    "emitted on every one of their active days. Re-expressed as two "
    "hash aggregates plus an equality filter (element is in the "
    "intersection iff its distinct-day count equals the group's "
    "distinct-day count), which never materializes per-row sets and "
    "is therefore a two-shuffle plan at any scale; the intersection "
    "crosses the driver boundary as a sorted joined string.",
)
def q134_group_array_intersect(spark, sf_dir):
    e = with_event_time(t(spark, sf_dir, "events")).withColumn(
        "dayi", F.expr("ts_us DIV 86400000000")
    )
    ud = e.groupBy("user_id").agg(F.countDistinct("dayi").alias("n_days"))
    ut = e.groupBy("user_id", "event_type").agg(
        F.countDistinct("dayi").alias("n_typed")
    )
    hit = F.col("n_typed") == F.col("n_days")
    return (
        ud.join(ut, "user_id")
        .groupBy("user_id", "n_days")
        .agg(
            F.count(F.when(hit, 1)).alias("n_common"),
            F.coalesce(
                F.array_join(
                    F.sort_array(F.collect_list(F.when(hit, F.col("event_type")))),
                    ",",
                ),
                F.lit(""),
            ).alias("common_types"),
        )
        .orderBy("user_id")
    )


@query(
    "q135_count_matches",
    oracle="""
    SELECT p_brand AS brand,
           CAST(sum(length(regexp_extract_all(p_name, '[aeiou]+'))) AS BIGINT)
             AS vowel_runs,
           CAST(sum((length(p_name) - length(replace(p_name, 'al', ''))) // 2)
             AS BIGINT) AS al_substrings,
           CAST(sum(CASE WHEN strpos(p_name, 'al') > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_with_al,
           CAST(min(CASE WHEN strpos(p_name, 'al') > 0
                    THEN strpos(p_name, 'al') END) AS BIGINT) AS min_al_pos
    FROM part GROUP BY p_brand ORDER BY p_brand
    """,
    note="ClickHouse countMatches / countSubstrings / position scalar "
    "family over part names, rolled up per brand: regex-run counting "
    "(RE2-and-Java-compatible pattern), non-overlapping literal "
    "substring counting via the replace-length identity (exact "
    "integers, no regex engine in the loop), and 1-based/0-missing "
    "first-position semantics. All scan-local scalar work — fuses "
    "into the scan at any scale.",
)
def q135_count_matches(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    pos = F.instr(F.col("p_name"), "al")
    subs = (F.length("p_name") - F.length(F.regexp_replace("p_name", "al", ""))) / 2
    return (
        p.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.regexp_count("p_name", F.lit("[aeiou]+"))).cast("long").alias("vowel_runs"),
            F.sum(subs.cast("long")).cast("long").alias("al_substrings"),
            F.sum(F.when(pos > 0, 1).otherwise(0)).cast("long").alias("n_with_al"),
            F.min(F.when(pos > 0, pos)).cast("long").alias("min_al_pos"),
        )
        .orderBy("brand")
    )


_READABLE_SQL_DUCK = """
    CASE WHEN {b} >= 1073741824 THEN
           CAST(({b} * 100 // 1073741824) // 100 AS VARCHAR) || '.' ||
           lpad(CAST(({b} * 100 // 1073741824) % 100 AS VARCHAR), 2, '0') || ' GiB'
         WHEN {b} >= 1048576 THEN
           CAST(({b} * 100 // 1048576) // 100 AS VARCHAR) || '.' ||
           lpad(CAST(({b} * 100 // 1048576) % 100 AS VARCHAR), 2, '0') || ' MiB'
         WHEN {b} >= 1024 THEN
           CAST(({b} * 100 // 1024) // 100 AS VARCHAR) || '.' ||
           lpad(CAST(({b} * 100 // 1024) % 100 AS VARCHAR), 2, '0') || ' KiB'
         ELSE CAST({b} AS VARCHAR) || ' B' END
"""


@query(
    "q136_format_readable",
    oracle=f"""
    WITH s AS (
      SELECT o_orderkey AS okey,
             CAST(o_orderkey * 77777 AS BIGINT) AS nbytes
      FROM orders WHERE o_orderkey % 997 = 0
    )
    SELECT okey, nbytes,
           {_READABLE_SQL_DUCK.format(b="nbytes")} AS readable_size,
           CASE WHEN nbytes >= 1000000000 THEN
                  CAST((nbytes * 100 // 1000000000) // 100 AS VARCHAR) || '.' ||
                  lpad(CAST((nbytes * 100 // 1000000000) % 100 AS VARCHAR), 2, '0')
                  || ' billion'
                WHEN nbytes >= 1000000 THEN
                  CAST((nbytes * 100 // 1000000) // 100 AS VARCHAR) || '.' ||
                  lpad(CAST((nbytes * 100 // 1000000) % 100 AS VARCHAR), 2, '0')
                  || ' million'
                WHEN nbytes >= 1000 THEN
                  CAST((nbytes * 100 // 1000) // 100 AS VARCHAR) || '.' ||
                  lpad(CAST((nbytes * 100 // 1000) % 100 AS VARCHAR), 2, '0')
                  || ' thousand'
                ELSE CAST(nbytes AS VARCHAR) END AS readable_qty
    FROM s ORDER BY okey
    """,
    note="ClickHouse formatReadableSize / formatReadableQuantity: "
    "human-readable binary-unit (KiB/MiB/GiB) and decimal-unit "
    "(thousand/million/billion) rendering. Both engines format from "
    "EXACT fixed-point hundredths (integer multiply-then-truncating-"
    "divide; Spark DIV, DuckDB //) rather than rounding a double "
    "quotient, so the strings are identical by construction — the "
    "quotient-tie discipline applied to presentation functions.",
)
def q136_format_readable(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter("o_orderkey % 997 = 0")
    s = o.select(
        F.col("o_orderkey").alias("okey"),
        (F.col("o_orderkey") * 77777).cast("long").alias("nbytes"),
    )

    def fixed(div, suffix):
        h = F.expr(f"nbytes * 100 DIV {div}")
        return F.concat(
            (h / 100).cast("long").cast("string"),
            F.lit("."),
            F.lpad((h % 100).cast("string"), 2, "0"),
            F.lit(suffix),
        )

    b = F.col("nbytes")
    readable_size = (
        F.when(b >= 1073741824, fixed(1073741824, " GiB"))
        .when(b >= 1048576, fixed(1048576, " MiB"))
        .when(b >= 1024, fixed(1024, " KiB"))
        .otherwise(F.concat(b.cast("string"), F.lit(" B")))
    )
    readable_qty = (
        F.when(b >= 1000000000, fixed(1000000000, " billion"))
        .when(b >= 1000000, fixed(1000000, " million"))
        .when(b >= 1000, fixed(1000, " thousand"))
        .otherwise(b.cast("string"))
    )
    return s.select(
        "okey", "nbytes",
        readable_size.alias("readable_size"),
        readable_qty.alias("readable_qty"),
    ).orderBy("okey")


@query(
    "q137_multisearch",
    oracle="""
    WITH s AS (
      SELECT p_partkey AS pkey, p_name,
             strpos(p_name, 'red') AS pos1,
             strpos(p_name, 'green') AS pos2,
             strpos(p_name, 'blue') AS pos3,
             strpos(p_name, 'ivory') AS pos4
      FROM part WHERE p_partkey % 13 = 0
    )
    SELECT pkey,
           CAST(pos1 AS BIGINT) AS pos1, CAST(pos2 AS BIGINT) AS pos2,
           CAST(pos3 AS BIGINT) AS pos3, CAST(pos4 AS BIGINT) AS pos4,
           CASE WHEN pos1 + pos2 + pos3 + pos4 > 0 THEN 1 ELSE 0 END AS any_hit,
           CAST(CASE
             WHEN pos1 > 0 AND (pos2 = 0 OR pos1 <= pos2)
                  AND (pos3 = 0 OR pos1 <= pos3)
                  AND (pos4 = 0 OR pos1 <= pos4) THEN 1
             WHEN pos2 > 0 AND (pos3 = 0 OR pos2 <= pos3)
                  AND (pos4 = 0 OR pos2 <= pos4) THEN 2
             WHEN pos3 > 0 AND (pos4 = 0 OR pos3 <= pos4) THEN 3
             WHEN pos4 > 0 THEN 4
             ELSE 0 END AS BIGINT) AS first_needle
    FROM s ORDER BY pkey
    """,
    note="ClickHouse multiSearchAllPositions / multiSearchAny / "
    "multiSearchFirstIndex over a fixed needle set ('red','green',"
    "'blue','ivory') in part names: per-needle 1-based first "
    "positions (0 = absent), the any-needle flag, and the 1-based "
    "index of the needle whose match appears leftmost (earlier "
    "needle wins position ties — CH's documented tie rule). "
    "Scan-local scalar work; a real multi-needle engine would use "
    "Aho-Corasick, which this output contract is agnostic to.",
)
def q137_multisearch(spark, sf_dir):
    p = t(spark, sf_dir, "part").filter("p_partkey % 13 = 0")
    pos = {i: F.instr(F.col("p_name"), n) for i, n in
           enumerate(["red", "green", "blue", "ivory"], start=1)}
    s = p.select(
        F.col("p_partkey").alias("pkey"),
        *[pos[i].cast("long").alias(f"pos{i}") for i in range(1, 5)],
    )
    c = {i: F.col(f"pos{i}") for i in range(1, 5)}
    first = (
        F.when(
            (c[1] > 0) & ((c[2] == 0) | (c[1] <= c[2]))
            & ((c[3] == 0) | (c[1] <= c[3])) & ((c[4] == 0) | (c[1] <= c[4])), 1)
        .when((c[2] > 0) & ((c[3] == 0) | (c[2] <= c[3]))
              & ((c[4] == 0) | (c[2] <= c[4])), 2)
        .when((c[3] > 0) & ((c[4] == 0) | (c[3] <= c[4])), 3)
        .when(c[4] > 0, 4)
        .otherwise(0)
    )
    return s.select(
        "pkey", "pos1", "pos2", "pos3", "pos4",
        F.when(c[1] + c[2] + c[3] + c[4] > 0, 1).otherwise(0).alias("any_hit"),
        first.cast("long").alias("first_needle"),
    ).orderBy("pkey")


@query(
    "q138_enumerate_uniq",
    oracle="""
    WITH e AS (
      SELECT l_orderkey AS okey, l_linenumber AS ln, l_returnflag AS mode,
             row_number() OVER (PARTITION BY l_orderkey, l_returnflag
                                ORDER BY l_linenumber) AS occ
      FROM lineitem WHERE l_orderkey % 97 = 0
    )
    SELECT okey,
           string_agg(mode, ',' ORDER BY ln, mode, occ) AS modes,
           string_agg(CAST(occ AS VARCHAR), ',' ORDER BY ln, mode, occ) AS occ_idx
    FROM e GROUP BY okey ORDER BY okey
    """,
    note="ClickHouse arrayEnumerateUniq: for each position in a "
    "sequence, the 1-based occurrence index of that value so far — "
    "here over each order's return-flag sequence in line-number order. "
    "Re-expressed as explode -> row_number partitioned by (sequence, "
    "value) -> reassemble in position order, which is shuffle-bounded "
    "by the sequence key and never holds more than one sequence per "
    "task; arrays cross the driver boundary as joined strings.",
)
def q138_enumerate_uniq(spark, sf_dir):
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem").filter("l_orderkey % 97 = 0")
    w = Window.partitionBy("l_orderkey", "l_returnflag").orderBy("l_linenumber")
    e = li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_returnflag").alias("mode"),
        F.row_number().over(w).alias("occ"),
    )

    def joined(field):
        # (ln, mode, occ) is a total order even when line numbers repeat
        return F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ln", "mode", "occ"))),
                lambda x: x[field].cast("string"),
            ),
            ",",
        )

    return (
        e.groupBy("okey")
        .agg(joined("mode").alias("modes"), joined("occ").alias("occ_idx"))
        .orderBy("okey")
    )


@query(
    "q139_json_array_flatten",
    oracle="""
    WITH s AS (
      SELECT o_orderkey AS okey, o_orderstatus AS status,
             o_orderkey % 3 + 1 AS n_items
      FROM orders WHERE o_orderkey % 199 = 0
    )
    SELECT status,
           CAST(sum(n_items) AS BIGINT) AS n_flat,
           CAST(sum(okey * (n_items * (n_items + 1) // 2)) AS BIGINT) AS sum_v,
           CAST(max(okey * n_items) AS BIGINT) AS max_v
    FROM s GROUP BY status ORDER BY status
    """,
    note="ClickHouse JSONExtractArrayRaw + arrayJoin (nested JSON "
    "array flatten): each order serializes a line-items JSON array "
    "('[{\"k\":1,\"v\":...},...]' via to_json), is parsed back with an "
    "explicit array<struct> schema (from_json), exploded with "
    "inline(), and aggregated. The oracle verifies the round-trip "
    "arithmetically (sum over k of okey*k is okey*n(n+1)/2), so the "
    "JSON parse path itself is under test on the Spark side — the "
    "x15 planted-input pattern. Parse+explode is scan-local; the "
    "only shuffle is the final aggregate.",
)
def q139_json_array_flatten(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter("o_orderkey % 199 = 0")
    items = F.transform(
        F.sequence(F.lit(1).cast("long"), F.col("o_orderkey") % 3 + 1),
        lambda k: F.struct(k.alias("k"), (F.col("o_orderkey") * k).alias("v")),
    )
    j = o.select(
        F.col("o_orderstatus").alias("status"),
        F.to_json(items).alias("payload"),
    )
    parsed = j.select(
        "status",
        F.from_json("payload", "array<struct<k:long,v:long>>").alias("arr"),
    )
    flat = parsed.select("status", F.explode("arr").alias("item"))
    return (
        flat.groupBy("status")
        .agg(
            F.count("*").alias("n_flat"),
            F.sum("item.v").cast("long").alias("sum_v"),
            F.max("item.v").cast("long").alias("max_v"),
        )
        .orderBy("status")
    )


@query(
    "q140_percent_rank_cume_dist",
    oracle="""
    WITH w AS (
      SELECT o_orderkey AS okey, o_orderpriority AS priority,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             rank() OVER (PARTITION BY o_orderpriority
                          ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT)) AS rnk,
             percent_rank() OVER (PARTITION BY o_orderpriority
                          ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT)) AS pr,
             cume_dist() OVER (PARTITION BY o_orderpriority
                          ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT)) AS cd
      FROM orders
    )
    SELECT okey, priority, cents, CAST(rnk AS BIGINT) AS rnk,
           CAST(floor(pr * 1000000) AS BIGINT) AS pr_micro,
           CAST(floor(cd * 1000000) AS BIGINT) AS cd_micro
    FROM w WHERE okey % 499 = 0 ORDER BY okey
    """,
    note="percent_rank / cume_dist window parity (ClickHouse 24.x "
    "window functions) over order cents per priority class, sampled "
    "after windowing so every rank sees its full partition. Both "
    "statistics are single IEEE divisions of exact integers "
    "((rank-1)/(n-1), peers/n): when the true value is a micro "
    "integer the division is exact, and when it is not it sits at "
    "least 1/(n-1) >> 1 ulp from the boundary, so the micro floor "
    "is deterministic — same argument as the registry's other "
    "floor-micro rows.",
)
def q140_percent_rank_cume_dist(spark, sf_dir):
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("priority").orderBy("cents")
    return (
        o.select(
            "okey", "priority", "cents",
            F.rank().over(w).cast("long").alias("rnk"),
            F.floor(F.percent_rank().over(w) * 1000000).cast("long").alias("pr_micro"),
            F.floor(F.cume_dist().over(w) * 1000000).cast("long").alias("cd_micro"),
        )
        .filter("okey % 499 = 0")
        .orderBy("okey")
    )


_PARENT_SQL = (
    "CASE WHEN {k} <= 3 THEN 0 "
    "ELSE {k} // 4 + ({k} * 2654435761) % ({k} // 8 + 1) END"
)


@query(
    "e31_dict_hierarchy",
    oracle=f"""
    WITH RECURSIVE dict AS (
      SELECT p_partkey AS node,
             CAST({_PARENT_SQL.format(k="p_partkey")} AS BIGINT) AS parent
      FROM part
    ), walk AS (
      SELECT node AS start, node AS cur, 0 AS d FROM dict
      UNION ALL
      SELECT w.start, dict.parent, w.d + 1
      FROM walk w JOIN dict ON dict.node = w.cur
      WHERE w.cur > 0
    ), depth AS (
      SELECT start AS node, max(d) AS depth FROM walk GROUP BY start
    )
    SELECT d.node, CAST(d.depth AS BIGINT) AS depth,
           dict.parent AS anc1,
           CAST(coalesce(p2.parent, 0) AS BIGINT) AS anc2
    FROM depth d
    JOIN dict ON dict.node = d.node
    LEFT JOIN dict p2 ON p2.node = dict.parent
    WHERE d.node % 37 = 0
    ORDER BY d.node
    """,
    note="ClickHouse dictGetHierarchy / dictGetDescendants semantics: "
    "each part key's parent is a DICTIONARY row (a mixing-hash "
    "mapping with parent(k) < k, so the graph is a forest rooted at "
    "the sentinel 0), and the query resolves per-node depth plus the "
    "first two ancestors by walking the dictionary — iterated "
    "BROADCAST joins on the Spark side (a bounded pointer-chase: "
    "parent <= 3k/8 so depth <= log_8/3(max key); 21 rounds covers "
    "10^8+ keys — the first cap, parent <= 3k/4, overflowed at "
    "sf0.1's 20k keys and was caught by the sf0.1 mirror), WITH "
    "RECURSIVE on the oracle side. Broadcasting the dict every round "
    "while the fact rows never shuffle is exactly how hierarchy "
    "resolution runs at 100 TB.",
)
def e31_dict_hierarchy(spark, sf_dir):
    from laion_spark.operators.hierarchy import resolve_depths, with_ancestors

    parent_expr = (
        "CASE WHEN p_partkey <= 3 THEN CAST(0 AS BIGINT) "
        "ELSE p_partkey DIV 4 + (p_partkey * 2654435761) % (p_partkey DIV 8 + 1) END"
    )
    dict_df = (
        t(spark, sf_dir, "part")
        .select(
            F.col("p_partkey").alias("node"),
            F.expr(parent_expr).cast("long").alias("parent"),
        )
        .cache()
    )
    depths = resolve_depths(dict_df, "node", "parent", root=0, max_depth=21)
    return (
        with_ancestors(
            depths.filter("node % 37 = 0"), dict_df, "node", "parent", levels=2
        )
        .select("node", "depth", "anc1", "anc2")
        .orderBy("node")
    )


@query(
    "e32_time_slots",
    oracle="""
    WITH e AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             (event_id % 7200 + 60) * 1000000 AS dur_us
      FROM events
    ), b AS (
      -- true-floor slot like the Spark side's pmod: sign-following %
      -- would round pre-1970 timestamps toward zero instead of down
      SELECT ts_us - ((ts_us % 1800000000) + 1800000000) % 1800000000 AS lo,
             (ts_us + dur_us)
               - (((ts_us + dur_us) % 1800000000) + 1800000000) % 1800000000 AS hi
      FROM e
    )
    SELECT s.slot_us, count(*) AS n_active
    FROM b, LATERAL (SELECT unnest(range(b.lo, b.hi + 1, 1800000000))
                     AS slot_us) s
    GROUP BY s.slot_us ORDER BY s.slot_us
    """,
    note="ClickHouse timeSlots(start, duration): every 30-minute grid "
    "slot an interval [ts, ts+duration] touches, here counting how "
    "many event intervals are active per slot (duration derived "
    "deterministically from the event id). sequence()+explode on the "
    "Spark side, LATERAL range() unnest on the oracle side — all in "
    "exact epoch-microsecond integers. Expansion factor is bounded "
    "by duration/slot_width, so the explode is O(rows) and the "
    "single aggregate shuffles only (slot, count) pairs at scale.",
)
def e32_time_slots(spark, sf_dir):
    from laion_spark.functions.time import time_slot_sequence

    e = with_event_time(t(spark, sf_dir, "events")).select(
        F.col("ts_us"),
        ((F.col("event_id") % 7200 + 60) * 1000000).cast("long").alias("dur_us"),
    )
    return (
        e.select(F.explode(time_slot_sequence("ts_us", "dur_us")).alias("slot_us"))
        .groupBy("slot_us")
        .agg(F.count("*").alias("n_active"))
        .orderBy("slot_us")
    )


_L1_EMB = (
    f"list_aggregate(list_transform(range(1, 65), "
    f"i -> abs(CAST(embedding[i] AS DOUBLE) - ({_QLIT})[i])), 'sum')"
)
_LINF_EMB = (
    f"list_aggregate(list_transform(range(1, 65), "
    f"i -> abs(CAST(embedding[i] AS DOUBLE) - ({_QLIT})[i])), 'max')"
)


@query(
    "v12_distance_family",
    oracle=f"""
    SELECT vec_id,
           round({_L1_EMB}, 6) AS l1,
           round({_LINF_EMB}, 6) AS linf,
           round({_DOT}, 6) AS dot,
           round({_DOT} / ({_NORM_E} * {_NORM_Q}), 6) AS cosine
    FROM embeddings
    ORDER BY {_L1_EMB}, vec_id
    LIMIT 10
    """,
    note="ClickHouse L1Distance / LinfDistance / dotProduct / "
    "cosineDistance scalar family (v01/v03 cover L2 and cosine "
    "top-k; this completes the distance-function surface): all four "
    "metrics in one scan, top-10 by L1. Element-order left folds on "
    "both sides (zip_with + aggregate vs list_transform + "
    "list_aggregate) make the float sums bit-identical; max is "
    "order-free. Scan-local vector math plus TakeOrderedAndProject "
    "— no shuffle at any scale.",
)
def v12_distance_family(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    q = F.array(*[F.lit(float(x)) for x in QVEC64])
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    absdiff = F.zip_with(e, q, lambda a, b: F.abs(a - b))
    l1 = F.aggregate(absdiff, F.lit(0.0), lambda acc, x: acc + x)
    linf = F.array_max(absdiff)
    dot = F.aggregate(
        F.zip_with(e, q, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm_e = F.sqrt(
        F.aggregate(
            F.transform(e, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    norm_q = F.sqrt(
        F.aggregate(
            F.transform(q, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return (
        emb.select(
            "vec_id",
            l1.alias("l1_raw"),
            linf.alias("linf"),
            dot.alias("dot"),
            (dot / (norm_e * norm_q)).alias("cos_raw"),
        )
        .orderBy("l1_raw", "vec_id")
        .limit(10)
        .select(
            "vec_id",
            F.round("l1_raw", 6).alias("l1"),
            F.round("linf", 6).alias("linf"),
            F.round("dot", 6).alias("dot"),
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


from laion_spark.functions.text import PII_PATTERNS as _PII_PATTERNS

_PII_EMAIL = _PII_PATTERNS["email"]
_PII_PHONE = _PII_PATTERNS["nanp_phone"]
_PII_IPV4 = _PII_PATTERNS["ipv4"]


@query(
    "t21_pii_pattern_scan",
    oracle=f"""
    WITH p AS (
      SELECT lang,
             text
             || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id
                     || '@example.com now' ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN ' call +1-555-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0 THEN ' tel +1-415-'
                     || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ok'
                     ELSE '' END
             || CASE WHEN doc_id % 11 = 0 THEN ' host 10.'
                     || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                     || CAST(doc_id % 100 AS VARCHAR) || ' up' ELSE '' END
               AS txt
      FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(length(regexp_extract_all(txt, '{_PII_EMAIL}'))) AS BIGINT)
             AS n_emails,
           CAST(sum(length(regexp_extract_all(txt, '{_PII_PHONE}'))) AS BIGINT)
             AS n_phones,
           CAST(sum(length(regexp_extract_all(txt, '{_PII_IPV4}'))) AS BIGINT)
             AS n_ipv4,
           CAST(sum(CASE WHEN length(regexp_extract_all(txt, '{_PII_EMAIL}')) > 0
                    OR length(regexp_extract_all(txt, '{_PII_PHONE}')) > 0
                    OR length(regexp_extract_all(txt, '{_PII_IPV4}')) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_flagged
    FROM p GROUP BY lang ORDER BY lang
    """,
    note="PII pattern scan — a first-class training-data curation "
    "pass: per-language email / NANP-phone / IPv4 occurrence counts "
    "and the flagged-document count, over text with deterministically "
    "planted PII (the fixture corpus is clean, so the x15 planted-"
    "input pattern makes the detector measurable). Patterns stay in "
    "the Java-regex/RE2 common subset (no lookaround, no "
    "backreferences) so any engine scores identically. One scan, one "
    "small aggregate — at 100 TB this fuses into the ingest pass, "
    "and redaction is a regexp_replace away on the same plan.",
)
def t21_pii_pattern_scan(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    txt = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                     F.lit("@example.com now")),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" call +1-555-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.lit(" tel +1-415-"),
                     F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                     F.lit("-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                     F.lit(" ok")),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit(" host 10."), (F.col("doc_id") % 256).cast("string"),
                     F.lit(".0."), (F.col("doc_id") % 100).cast("string"),
                     F.lit(" up")),
        ).otherwise(""),
    )
    from laion_spark.functions.text import pii_counts

    pc = pii_counts(txt)
    n_email, n_phone, n_ip = pc["email"], pc["nanp_phone"], pc["ipv4"]
    return (
        d.select("lang", n_email.alias("ne"), n_phone.alias("np"), n_ip.alias("ni"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ne").cast("long").alias("n_emails"),
            F.sum("np").cast("long").alias("n_phones"),
            F.sum("ni").cast("long").alias("n_ipv4"),
            F.sum(
                F.when((F.col("ne") > 0) | (F.col("np") > 0) | (F.col("ni") > 0), 1)
                .otherwise(0)
            ).cast("long").alias("n_docs_flagged"),
        )
        .orderBy("lang")
    )


@query(
    "d16_paragraph_dedup",
    oracle="""
    WITH paras AS (
      SELECT lang, md5(trim(p)) AS fp
      FROM documents, LATERAL (SELECT unnest(string_split(text, ' the '))
                               AS p) s
      WHERE length(trim(p)) > 0
    )
    SELECT lang,
           count(*) AS n_paras,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup,
           CAST((count(*) - count(DISTINCT fp)) * 1000000 // count(*) AS BIGINT)
             AS dup_ratio_micro
    FROM paras GROUP BY lang ORDER BY lang
    """,
    note="Paragraph-level (sub-document) exact dedup ledger — the "
    "curation pass between whole-doc dedup (d01) and fuzzy "
    "containment (d12): documents are segmented (the fixture corpus "
    "has no newlines, so the delimiter is a fixed token boundary), "
    "segments are fingerprinted with the portable md5, and per-"
    "language duplicate mass is reported. At 100 TB this is explode "
    "+ one hash aggregate over (lang, fp) partials — 16-byte "
    "fingerprints shuffle, never the text; the survivor-rewrite "
    "variant joins the dup fingerprint set back in one more pass.",
)
def d16_paragraph_dedup(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    paras = (
        d.select("lang", F.explode(F.split("text", " the ")).alias("p"))
        .select("lang", F.trim("p").alias("p"))
        .filter(F.length("p") > 0)
        .select("lang", F.md5(F.col("p").cast("binary")).alias("fp"))
    )
    return (
        paras.groupBy("lang")
        .agg(
            F.count("*").alias("n_paras"),
            F.countDistinct("fp").alias("n_distinct"),
            (F.count("*") - F.countDistinct("fp")).cast("long").alias("n_dup"),
            F.expr(
                "(count(*) - count(DISTINCT fp)) * 1000000 DIV count(*)"
            ).alias("dup_ratio_micro"),
        )
        .orderBy("lang")
    )


@query(
    "d17_url_canonical_dedup",
    oracle="""
    WITH raw AS (
      SELECT lang,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
             || '://'
             || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
             || 'Example' || CAST(doc_id % 20 AS VARCHAR) || '.COM/'
             || lang || '/page' || CAST(doc_id % 50 AS VARCHAR)
             || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 5 = 0
                 THEN '?utm_source=feed&ref=' || CAST(doc_id % 7 AS VARCHAR)
                 WHEN doc_id % 5 = 1
                 THEN '?ref=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x'
                 ELSE '' END)
             || (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS url
      FROM documents
    ), canon AS (
      SELECT lang, url,
             regexp_replace(regexp_replace(regexp_replace(
               replace(lower(regexp_replace(url, '#.*$', '')),
                       '://www.', '://'),
               'utm_[a-z_]+=[^&]*&', ''),
               '[?&]utm_[a-z_]+=[^&]*$', ''),
               '/$', '') AS curl
      FROM raw
    )
    SELECT lang, count(*) AS n_urls,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_distinct,
           CAST(count(DISTINCT curl) AS BIGINT) AS n_canon_distinct,
           min(curl) AS sample_canonical
    FROM canon GROUP BY lang ORDER BY lang
    """,
    note="URL canonicalization + dedup — the crawl-corpus curation "
    "pass that collapses scheme/host case, www prefixes, utm_* "
    "tracking parameters, fragments, and trailing slashes before "
    "dedup (URLs constructed deterministically per doc since the "
    "fixture has none; x15 planted-input pattern). The regexp chain "
    "avoids capture-group replacements (Spark $1 vs RE2 \\\\1 "
    "disagree) so both engines run the identical rewrite. Per-"
    "language raw-vs-canonical distinct counts quantify the "
    "collapse; scan-local rewrites plus one aggregate at any scale.",
)
def d17_url_canonical_dedup(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS")).otherwise("https"),
        F.lit("://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(""),
        F.lit("Example"), (F.col("doc_id") % 20).cast("string"), F.lit(".COM/"),
        F.col("lang"), F.lit("/page"), (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("?utm_source=feed&ref="),
                     (F.col("doc_id") % 7).cast("string")),
        ).when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit("?ref="), (F.col("doc_id") % 7).cast("string"),
                     F.lit("&utm_campaign=x")),
        ).otherwise(""),
        F.when(F.col("doc_id") % 6 == 0, F.lit("#sec")).otherwise(""),
    )
    from laion_spark.functions.text import canonicalize_url

    curl = canonicalize_url(url)
    return (
        d.select("lang", url.alias("url"), curl.alias("curl"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("url").alias("n_raw_distinct"),
            F.countDistinct("curl").alias("n_canon_distinct"),
            F.min("curl").alias("sample_canonical"),
        )
        .orderBy("lang")
    )


# --- round-7 session-3 tail: r9-queued additions (window already full) ------


@query(
    "v13_normalize_quantize",
    oracle=f"""
    WITH s AS (
      SELECT vec_id,
             {_NORM_E} AS nrm,
             list_aggregate(list_transform(embedding,
               x -> CAST(x AS DOUBLE)), 'sum') AS sx,
             list_aggregate(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE))), 'max') AS maxabs
      FROM embeddings WHERE vec_id % 37 = 0
    )
    SELECT vec_id,
           round(nrm, 6) AS l2_norm,
           round(sx / nrm, 6) AS nsum,
           CAST(list_aggregate(list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 127 / maxabs) AS BIGINT)),
             'sum') AS BIGINT) AS q_sum,
           CAST(list_aggregate(list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 127 / maxabs) AS BIGINT)),
             'min') AS BIGINT) AS q_min,
           CAST(list_aggregate(list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 127 / maxabs) AS BIGINT)),
             'max') AS BIGINT) AS q_max
    FROM embeddings JOIN s USING (vec_id)
    WHERE maxabs > 0
    ORDER BY vec_id
    """,
    note="ClickHouse L2Normalize + int8 scalar quantization (the "
    "function-level form of the storage-level f16 twin, halfvec.py): "
    "per-vector L2 norm, normalized-sum invariant (sum(x)/||x||), and "
    "symmetric int8 codes floor(x*127/max|x|) with their sum/min/max. "
    "Every statistic is one identical IEEE expression over the same "
    "float32-exact doubles in both engines (the same bit-equality "
    "argument as the corr/ANOVA closed forms), so even the floors "
    "match exactly. Scan-local vector math; at scale the codes are "
    "what ships to an int8 ANN index at 1/4 the bytes of f32.",
)
def v13_normalize_quantize(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").filter("vec_id % 37 = 0")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(F.transform(e, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    sx = F.aggregate(e, F.lit(0.0), lambda a, x: a + x)
    maxabs = F.array_max(F.transform(e, lambda x: F.abs(x)))
    codes = F.transform(
        F.col("e"), lambda x: F.floor(x * 127 / F.col("maxabs")).cast("long")
    )
    return (
        emb.select("vec_id", nrm.alias("nrm"), sx.alias("sx"), maxabs.alias("maxabs"), e.alias("e"))
        .filter("maxabs > 0")
        .select(
            "vec_id",
            F.round("nrm", 6).alias("l2_norm"),
            F.round(F.col("sx") / F.col("nrm"), 6).alias("nsum"),
            F.aggregate(codes, F.lit(0).cast("long"), lambda a, x: a + x)
            .alias("q_sum"),
            F.array_min(codes).cast("long").alias("q_min"),
            F.array_max(codes).cast("long").alias("q_max"),
        )
        .orderBy("vec_id")
    )


@query(
    "d18_benchmark_decontamination",
    oracle=r"""
    WITH b AS (
      SELECT doc_id, lang, n_chars,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 5
        THEN [array_to_string(toks[i:i+4], ' ') for i in generate_series(1, len(toks)-4)]
        ELSE [] END)) AS gram
      FROM b
    ), probe_grams AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0
    ), shared AS (
      SELECT g.doc_id, count(*) AS n_shared
      FROM g JOIN probe_grams USING (gram)
      WHERE g.doc_id % 50 <> 0
      GROUP BY g.doc_id
    )
    SELECT b.lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN b.doc_id % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_probe,
           CAST(sum(CASE WHEN coalesce(s.n_shared, 0) >= 2 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN b.doc_id % 50 <> 0
                    AND coalesce(s.n_shared, 0) < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN b.doc_id % 50 <> 0
                    AND coalesce(s.n_shared, 0) < 2 THEN b.n_chars ELSE 0 END)
             AS BIGINT) AS chars_kept
    FROM b LEFT JOIN shared s ON b.doc_id = s.doc_id
    GROUP BY b.lang ORDER BY b.lang
    """,
    note="Benchmark decontamination end-to-end (the eval-leakage pass "
    "every training corpus needs; composes d09's 5-gram contamination "
    "scan into a drop decision + retention ledger like d13): documents "
    "sharing >= 2 distinct 5-gram shingles with ANY probe document are "
    "flagged, probes themselves are excluded, and the per-language "
    "kept-mass is reported. At 100 TB the probe shingle set (benchmark "
    "suites are tiny) BROADCASTS into the semi-join, the corpus "
    "shingle stream shuffles once as hashed partials, and the verdict "
    "join back to documents is by doc id — the same one-broadcast-"
    "one-shuffle shape as the unigram-NLL scorer.",
)
def d18_benchmark_decontamination(spark, sf_dir):
    from laion_spark.operators.dedup import shingles

    d = t(spark, sf_dir, "documents")
    g = d.select("doc_id", F.explode(shingles("text", 5)).alias("gram"))
    probe_grams = g.filter("doc_id % 50 = 0").select("gram").distinct()
    shared = (
        g.filter("doc_id % 50 <> 0")
        .join(F.broadcast(probe_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    probe = F.col("doc_id") % 50 == 0
    flagged = F.coalesce(F.col("n_shared"), F.lit(0)) >= 2
    return (
        d.join(shared, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(probe, 1).otherwise(0)).cast("long").alias("n_probe"),
            F.sum(F.when(flagged, 1).otherwise(0)).cast("long").alias("n_flagged"),
            F.sum(F.when(~probe & ~flagged, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(~probe & ~flagged, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_kept"),
        )
        .orderBy("lang")
    )


@query(
    "q141_transform_decode",
    oracle="""
    SELECT event_type,
           CASE event_type WHEN 'click' THEN 'engage'
                           WHEN 'view' THEN 'browse' ELSE 'other' END AS decoded,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE event_id % 4 WHEN 0 THEN 10 WHEN 1 THEN 20
                                      WHEN 2 THEN 30 ELSE -1 END) AS BIGINT)
             AS weight_sum
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note="ClickHouse transform(x, from[], to[], default) decode-map "
    "parity (one string leg, one integer leg): a literal map + "
    "map_contains_key-guarded element_at + coalesced default — a pure "
    "JVM expression Catalyst constant-folds into the scan, exactly how "
    "CH inlines its transform table. The guard (not bare element_at) "
    "keeps the expression legal under ANSI mode, where a missing map "
    "key otherwise raises. Scale-free: no shuffle beyond the final "
    "group-by on the decoded value.",
)
def q141_transform_decode(spark, sf_dir):
    def ch_transform(col, pairs, default):
        # CH transform semantics: listed values map, everything else
        # falls through to the default (here the guarded-map idiom)
        m = F.create_map(*[F.lit(v) for kv in pairs for v in kv])
        return F.when(F.map_contains_key(m, col), F.element_at(m, col)).otherwise(default)

    e = t(spark, sf_dir, "events").select(
        "event_type",
        ch_transform(F.col("event_type"), [("click", "engage"), ("view", "browse")],
                     F.lit("other")).alias("decoded"),
        ch_transform(F.pmod(F.col("event_id"), F.lit(4)).cast("int"),
                     [(0, 10), (1, 20), (2, 30)], F.lit(-1)).cast("long").alias("w"),
    )
    return (
        e.groupBy("event_type", "decoded")
        .agg(F.count("*").alias("n"), F.sum("w").cast("long").alias("weight_sum"))
        .select("event_type", "decoded", "n", "weight_sum")
        .orderBy("event_type")
    )


@query(
    "q142_group_array_insert_at",
    oracle="""
    WITH k AS (
      SELECT DISTINCT l_orderkey AS okey FROM lineitem WHERE l_orderkey <= 60
    ), pp AS (
      SELECT l_orderkey AS okey, l_linenumber - 1 AS pos,
             min(CAST(l_quantity AS BIGINT)) AS q
      FROM lineitem WHERE l_orderkey <= 60 GROUP BY 1, 2
    ), grid AS (
      SELECT k.okey, g.pos FROM k, (SELECT unnest(range(0, 7)) AS pos) g
    )
    SELECT grid.okey, CAST(grid.pos AS INT) AS pos,
           coalesce(pp.q, 0) AS val
    FROM grid LEFT JOIN pp ON grid.okey = pp.okey AND grid.pos = pp.pos
    ORDER BY grid.okey, grid.pos
    """,
    note="ClickHouse groupArrayInsertAt(default, size)(x, pos) parity: "
    "an aggregate that places each group's values at explicit array "
    "positions, padding gaps with the default to a fixed size (7 = the "
    "lineitem linenumber domain). CH's first-seen-wins on duplicate "
    "positions is nondeterministic under parallelism, so this entry "
    "resolves duplicates with min() — this testdata has duplicate "
    "l_linenumber per order (round-7 fixture lesson). Shape: narrow "
    "(group, pos, min) partial aggregate, then map_from_entries + a "
    "sequence fill — the array never exceeds the declared size, and "
    "the result is posexploded to scalar rows for the oracle. At scale "
    "this is two map-side-combinable aggregates on the same key, no "
    "wide rows in the shuffle.",
)
def q142_group_array_insert_at(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter("l_orderkey <= 60")
    per_pos = li.groupBy(
        F.col("l_orderkey").alias("okey"),
        (F.col("l_linenumber") - 1).cast("int").alias("pos"),
    ).agg(F.min(F.col("l_quantity").cast("long")).alias("q"))
    assembled = per_pos.groupBy("okey").agg(
        F.map_from_entries(F.collect_list(F.struct("pos", "q"))).alias("m")
    )
    idxs = F.sequence(F.lit(0), F.lit(6))
    arr = F.transform(
        idxs,
        lambda i: F.when(
            F.map_contains_key(F.col("m"), i.cast("int")),
            F.element_at(F.col("m"), i.cast("int")),
        ).otherwise(F.lit(0).cast("long")),
    )
    return (
        assembled.select("okey", F.posexplode(arr).alias("pos", "val"))
        .select("okey", F.col("pos").cast("int").alias("pos"), "val")
        .orderBy("okey", "pos")
    )


@query(
    "q143_array_fill",
    oracle="""
    WITH a AS (
      SELECT l_orderkey AS okey,
             list(CASE WHEN CAST(l_quantity AS BIGINT) % 3 = 0 THEN NULL
                       ELSE CAST(l_quantity AS BIGINT) END
                  ORDER BY l_linenumber, l_quantity) AS arr
      FROM lineitem WHERE l_orderkey <= 60 GROUP BY l_orderkey
    )
    SELECT okey,
           array_to_string(list_transform(arr,
             v -> coalesce(CAST(v AS VARCHAR), 'n')), ',') AS base,
           array_to_string(list_transform(arr, (x, i) ->
             coalesce(CAST(coalesce(x,
               (list_filter(arr[1:i-1], y -> y IS NOT NULL))[-1]) AS VARCHAR),
               'n')), ',') AS fwd_fill,
           array_to_string(list_transform(arr, (x, i) ->
             coalesce(CAST(coalesce(x,
               (list_filter(arr[i+1:], y -> y IS NOT NULL))[1]) AS VARCHAR),
               'n')), ',') AS rev_fill
    FROM a ORDER BY okey
    """,
    note="ClickHouse arrayFill / arrayReverseFill parity (cond = `x IS "
    "NOT NULL`): nulls are planted deterministically (qty % 3 = 0) in "
    "a per-order quantity array, then forward-filled from the nearest "
    "earlier non-null and backward-filled from the nearest later one; "
    "elements before the first (after the last) non-null stay null, "
    "per the CH contract. Index-aware lambdas with prefix/suffix "
    "slice+filter — O(len^2) per array but bounded by lines-per-order, "
    "and F.get (not element_at) keeps empty-prefix access NULL-safe "
    "under ANSI. Nulls render as 'n' through the string join on both "
    "sides so the driver canon sees identical scalar cells.",
)
def q143_array_fill(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter("l_orderkey <= 60")
    q = F.col("l_quantity").cast("long")
    a = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("l_linenumber", q.alias("qk"), q.alias("qv")))
            ),
            lambda s: F.when(s["qv"] % 3 != 0, s["qv"]),
        ).alias("arr")
    )
    arr = F.col("arr")

    def last_nonnull(prefix):
        kept = F.filter(prefix, lambda y: y.isNotNull())
        return F.get(kept, F.size(kept) - 1)

    def first_nonnull(suffix):
        return F.get(F.filter(suffix, lambda y: y.isNotNull()), F.lit(0))

    fwd = F.transform(
        arr, lambda x, i: F.coalesce(x, last_nonnull(F.slice(arr, 1, i)))
    )
    rev = F.transform(
        arr,
        lambda x, i: F.coalesce(
            x, first_nonnull(F.slice(arr, i + 2, F.greatest(F.size(arr) - i - 1, F.lit(0))))
        ),
    )
    joined = lambda c: F.array_join(
        F.transform(c, lambda x: F.coalesce(x.cast("string"), F.lit("n"))), ","
    )
    return a.select(
        "okey",
        joined(arr).alias("base"),
        joined(fwd).alias("fwd_fill"),
        joined(rev).alias("rev_fill"),
    ).orderBy("okey")


# =============================================================================
# Round 10: the last parked ClickHouse correlation-family member
# =============================================================================


@query(
    "q144_kendall_tau",
    oracle="""
    WITH p AS (
      SELECT p_partkey AS k, p_brand AS brand, p_size AS x,
             CAST(round(p_retailprice * 100) AS BIGINT) AS y
      FROM part WHERE p_partkey <= 150
    ), pr AS (
      SELECT a.brand,
             CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS dx,
             CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS dy
      FROM p a JOIN p b ON a.brand = b.brand AND a.k < b.k
    ), ag AS (
      SELECT brand,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(dx * dy) AS BIGINT) AS s_sum,
             CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
             CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
      FROM pr GROUP BY brand
    )
    SELECT brand, n_pairs, s_sum, ties_x, ties_y,
           CAST(floor(CAST(s_sum AS DOUBLE) * 1000000
                      / sqrt(CAST(n_pairs - ties_x AS DOUBLE)
                             * CAST(n_pairs - ties_y AS DOUBLE)))
                AS BIGINT) AS tau_b_micro
    FROM ag
    WHERE n_pairs - ties_x > 0 AND n_pairs - ties_y > 0
    ORDER BY brand
    """,
    note="ClickHouse kendallTau — exact tau-b with tie correction, "
    "closing the correlation family after rankCorr (q75) and "
    "corrMatrix (q113): per-brand blocks of (p_size, retail cents), "
    "pairs meeting through the p_brand equi-key (the q103/t19 "
    "blocking discipline — a grouped self-join, never all-pairs). "
    "Every pair term is an exact integer (sign products, tie counts), "
    "and tau ships as floored integer micros of "
    "S*1e6/sqrt((n0-tx)(n0-ty)): sqrt is correctly rounded in both "
    "engines and every operand arrives as the same exact int, so the "
    "double chains are bit-identical — no quotient-tie risk. "
    "Degenerate blocks (all-tied on either axis) are filtered by the "
    "same predicate both sides. For ONE giant series at 100 TB the "
    "blocked design changes shape, not cost class: y-value bands cut "
    "at quantile boundaries (equal values share a band) make every "
    "cross-band pair's dy sign known from the band order, so only "
    "within-band pairs need local counting — O(n log n) total, never "
    "an O(n^2) pair shuffle.",
)
def q144_kendall_tau(spark, sf_dir):
    from laion_spark.operators.stats import kendall_tau_b

    p = t(spark, sf_dir, "part").filter("p_partkey <= 150").select(
        F.col("p_partkey").alias("k"),
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("x"),
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("y"),
    )
    ag = kendall_tau_b(p, "x", "y", block="brand", id_col="k")
    cx = F.col("n_pairs") - F.col("ties_x")
    cy = F.col("n_pairs") - F.col("ties_y")
    # tau as floored integer micros derived from the helper's EXACT
    # integer components (never its double tau_b) — the cross-engine
    # bit-stability discipline; degenerate blocks filtered like the
    # oracle's WHERE. Every long casts to double BEFORE any multiply
    # (ADVICE r10: s_sum*1e6 and cx*cy wrap in int64 on huge blocks);
    # both engines run the identical double chain, so the floor stays
    # tie-safe at any scale — exact below 2^53, bit-identical above.
    return (
        ag.filter((cx > 0) & (cy > 0))
        .select(
            "brand", "n_pairs", "s_sum", "ties_x", "ties_y",
            F.floor(
                F.col("s_sum").cast("double") * 1_000_000
                / F.sqrt(cx.cast("double") * cy.cast("double"))
            ).cast("long").alias("tau_b_micro"),
        )
        .orderBy("brand")
    )


@query(
    "q145_kendall_tau_series",
    oracle="""
    WITH p AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem WHERE l_orderkey <= 120
    ), c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
    gx AS (SELECT CAST(COALESCE(sum(cc*(cc-1)),0) AS BIGINT) // 2 AS t
           FROM (SELECT count(*) AS cc FROM p GROUP BY x)),
    gy AS (SELECT CAST(COALESCE(sum(cc*(cc-1)),0) AS BIGINT) // 2 AS t
           FROM (SELECT count(*) AS cc FROM p GROUP BY y)),
    gxy AS (SELECT CAST(COALESCE(sum(cc*(cc-1)),0) AS BIGINT) // 2 AS t
            FROM (SELECT count(*) AS cc FROM p GROUP BY x, y)),
    dd AS (SELECT CAST(count(*) AS BIGINT) AS d
           FROM p a JOIN p b ON a.x < b.x AND a.y > b.y)
    SELECT c.n AS n_rows,
           c.n * (c.n - 1) // 2 AS n_pairs,
           gx.t AS ties_x, gy.t AS ties_y, gxy.t AS ties_xy,
           c.n*(c.n-1)//2 - gx.t - gy.t + gxy.t AS comparable,
           dd.d AS discordant,
           c.n*(c.n-1)//2 - gx.t - gy.t + gxy.t - 2*dd.d AS s_sum,
           CAST(floor(CAST(c.n*(c.n-1)//2 - gx.t - gy.t + gxy.t - 2*dd.d
                           AS DOUBLE) * 1000000
                      / sqrt(CAST(c.n*(c.n-1)//2 - gx.t AS DOUBLE)
                             * CAST(c.n*(c.n-1)//2 - gy.t AS DOUBLE)))
                AS BIGINT) AS tau_b_micro
    FROM c, gx, gy, gxy, dd
    """,
    note="kendallTau over ONE series (quantity vs price cents) — the "
    "q144 aggregate's scale form, run through the BANDED exact "
    "algorithm (operators/stats.py kendall_tau_b_series): x/y quantile "
    "bands assigned BY VALUE (band inequality implies strict value "
    "inequality), discordant pairs split exactly into a cell-grid "
    "dominance sum + per-x-stripe and per-y-stripe local Fenwick "
    "counts — no O(n^2) pair step anywhere on the Spark side, while "
    "the ORACLE brute-forces the same counts id-free through two "
    "inequality self-joins (each unordered pair matches in exactly one "
    "orientation) and tie-group arithmetic. What is verified is that "
    "the O(n log n)-class banded decomposition equals brute force on "
    "real data at three scales; band boundaries only balance work, "
    "never change the result. Ties flow as exact integer counts and "
    "tau ships as floored micros of exact ints (q144 discipline).",
)
def q145_kendall_tau_series(spark, sf_dir):
    from laion_spark.operators.stats import kendall_tau_b_series

    li = t(spark, sf_dir, "lineitem").filter("l_orderkey <= 120").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    r = kendall_tau_b_series(li, "x", "y", bands=8)
    cx = F.col("n_pairs") - F.col("ties_x")
    cy = F.col("n_pairs") - F.col("ties_y")
    return r.select(
        "n_rows", "n_pairs", "ties_x", "ties_y", "ties_xy",
        "comparable", "discordant", "s_sum",
        F.when(
            (cx > 0) & (cy > 0),
            # cast-then-multiply on every long (q144 discipline; the
            # int64 products wrap on a ~4M-row series otherwise)
            F.floor(
                F.col("s_sum").cast("double") * 1_000_000
                / F.sqrt(cx.cast("double") * cy.cast("double"))
            ),
        ).cast("long").alias("tau_b_micro"),
    )


# ---------------------------------------------------------------------------
# round-11 additions (SURVEY §2.18): retrieval scoring + tokenizer
# learning + fuzzy matching — the corpus-curation ops that sit between
# dedup (d*) and quality filtering (t*) in a training-data pipeline.
# ---------------------------------------------------------------------------


@query(
    "t22_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY doc_id
    ), tf AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
    ), n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    idf AS (
      SELECT tok, df,
             CAST(floor(ln(n.n_docs / df) * 1000000) AS BIGINT) AS idf_micro
      FROM df, n
    )
    SELECT t.doc_id, t.tok AS term, t.c AS tf, i.df, i.idf_micro,
           CAST(floor(CAST(t.c * i.idf_micro AS DOUBLE) / d.n_toks)
                AS BIGINT) AS tfidf_micro
    FROM tf t JOIN idf i USING (tok) JOIN dl d USING (doc_id)
    ORDER BY tfidf_micro DESC, doc_id, term LIMIT 100
    """,
    note="TF-IDF term weighting (the classic lexical-relevance score; "
    "rarity-weighted term importance is also the standard cheap "
    "keyword-extraction pass over a pretraining corpus). Two "
    "corpus-scale aggregates (doc lengths, per-doc term counts) plus "
    "one vocabulary aggregate for document frequencies; the idf map "
    "is vocabulary-sized so it broadcasts back onto the tf rows — no "
    "corpus re-shuffle. The t16 integer-micros discipline keeps the "
    "engines bit-aligned: idf floors ln(N/df) to micros per TERM, "
    "tf*idf floors the integer product over the doc length — no raw "
    "double quotient crosses the boundary.",
)
def t22_tfidf_top_terms(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    dfq = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    nd = d.agg(F.count("*").cast("double").alias("n_docs"))
    idf = dfq.crossJoin(F.broadcast(nd)).select(
        "tok",
        "df",
        F.floor(F.log(F.col("n_docs") / F.col("df")) * 1_000_000)
        .cast("long")
        .alias("idf_micro"),
    )
    return (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            F.col("c").alias("tf"),
            "df",
            "idf_micro",
            F.floor((F.col("c") * F.col("idf_micro")).cast("double") / F.col("n_toks"))
            .cast("long")
            .alias("tfidf_micro"),
        )
        .orderBy(F.desc("tfidf_micro"), "doc_id", "term")
        .limit(100)
    )


@query(
    "t23_bm25_rank",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(n_toks) AS DOUBLE) AS total_toks FROM dl
    ), q AS (SELECT unnest(['dup', 'merge', 'spark']) AS term),
    hit AS (
      SELECT t.doc_id, q.term FROM toks t JOIN q ON t.tok = q.term
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM hit GROUP BY term
    ), idf AS (
      SELECT term, df, s.n_docs, s.total_toks,
             CAST(floor(ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5))
                        * 1000000) AS BIGINT) AS idf_micro
      FROM df, stats s
    ), tf AS (
      SELECT doc_id, term, count(*) AS c FROM hit GROUP BY doc_id, term
    ), scored AS (
      SELECT tf.doc_id,
        CAST(floor(
          CAST(i.idf_micro AS DOUBLE) * tf.c * 2.2
          / (tf.c + 1.2 * (1.0 - 0.75 + 0.75 * d.n_toks
                           / (i.total_toks / i.n_docs)))
        ) AS BIGINT) AS term_micro
      FROM tf JOIN idf i USING (term) JOIN dl d USING (doc_id)
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
           CAST(sum(term_micro) AS BIGINT) AS score_micro
    FROM scored GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id LIMIT 50
    """,
    note="Okapi BM25 ranking (k1=1.2, b=0.75) of the corpus against a "
    "fixed keyword query — full-text relevance search, the retrieval "
    "twin of t22 and the lexical side of the v01/a* vector search "
    "family. The query-term table and the per-term idf map broadcast "
    "(both are query-sized); corpus work is one token scan semi-joined "
    "down to query-term hits before any aggregation, then doc-length "
    "normalization joins on the doc key. Cross-engine: idf floors to "
    "integer micros per term, each per-term BM25 contribution floors "
    "to micros (an identical double chain over exact ints in both "
    "engines), and the doc score is a SUM of integer micros — "
    "order-free, so no float-summation-order risk across partitions.",
)
def t23_bm25_rank(spark, sf_dir):
    return (
        _bm25_doc_scores(spark, sf_dir)
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(50)
    )


def _bm25_doc_scores(spark, sf_dir):
    """Okapi BM25 (k1=1.2, b=0.75) of every document against the fixed
    query terms — the shared scoring pipeline behind t23 (ranking) and
    v14 (RRF hybrid fusion). Returns (doc_id, n_terms_hit, score_micro)
    unordered; see t23's note for the shuffle/broadcast shape and the
    integer-micros cross-engine discipline."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("n_toks").cast("double").alias("total_toks"),
    )
    qterms = spark.range(1).select(
        F.explode(F.array(F.lit("dup"), F.lit("merge"), F.lit("spark"))).alias("term")
    )
    hit = toks.join(F.broadcast(qterms), toks["tok"] == qterms["term"]).select(
        "doc_id", "term"
    )
    dfq = hit.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = dfq.crossJoin(F.broadcast(stats)).select(
        "term",
        "df",
        "n_docs",
        "total_toks",
        F.floor(
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * 1_000_000
        )
        .cast("long")
        .alias("idf_micro"),
    )
    tf = hit.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            F.floor(
                F.col("idf_micro").cast("double") * F.col("c") * 2.2
                / (
                    F.col("c")
                    + 1.2
                    * (
                        1.0
                        - 0.75
                        + 0.75
                        * F.col("n_toks")
                        / (F.col("total_toks") / F.col("n_docs"))
                    )
                )
            )
            .cast("long")
            .alias("term_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_terms_hit"),
        F.sum("term_micro").cast("long").alias("score_micro"),
    )


@query(
    "t24_bpe_learn_merges",
    oracle="""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    w AS (SELECT tok, count(*) AS w FROM toks GROUP BY tok),
    s0 AS (
      SELECT tok, w,
             ' ' || array_to_string([tok[i] for i in
                                     generate_series(1, len(tok))], ' ')
                 || ' ' AS seq
      FROM w
    ),
    p1 AS (
      SELECT pr, CAST(sum(w) AS BIGINT) AS c FROM (
        SELECT w, unnest([syms[j] || ' ' || syms[j+1]
                          for j in generate_series(1, len(syms)-1)]) AS pr
        FROM (SELECT w, string_split(trim(seq), ' ') AS syms FROM s0)
      ) GROUP BY pr
    ),
    b1 AS (SELECT pr, c FROM p1 ORDER BY c DESC, pr LIMIT 1),
    s1 AS (
      SELECT tok, w,
        replace(replace(seq,
          ' ' || (SELECT pr FROM b1) || ' ',
          ' ' || replace((SELECT pr FROM b1), ' ', '') || ' '),
          ' ' || (SELECT pr FROM b1) || ' ',
          ' ' || replace((SELECT pr FROM b1), ' ', '') || ' ') AS seq
      FROM s0
    ),
    p2 AS (
      SELECT pr, CAST(sum(w) AS BIGINT) AS c FROM (
        SELECT w, unnest([syms[j] || ' ' || syms[j+1]
                          for j in generate_series(1, len(syms)-1)]) AS pr
        FROM (SELECT w, string_split(trim(seq), ' ') AS syms FROM s1)
      ) GROUP BY pr
    ),
    b2 AS (SELECT pr, c FROM p2 ORDER BY c DESC, pr LIMIT 1),
    s2 AS (
      SELECT tok, w,
        replace(replace(seq,
          ' ' || (SELECT pr FROM b2) || ' ',
          ' ' || replace((SELECT pr FROM b2), ' ', '') || ' '),
          ' ' || (SELECT pr FROM b2) || ' ',
          ' ' || replace((SELECT pr FROM b2), ' ', '') || ' ') AS seq
      FROM s1
    ),
    p3 AS (
      SELECT pr, CAST(sum(w) AS BIGINT) AS c FROM (
        SELECT w, unnest([syms[j] || ' ' || syms[j+1]
                          for j in generate_series(1, len(syms)-1)]) AS pr
        FROM (SELECT w, string_split(trim(seq), ' ') AS syms FROM s2)
      ) GROUP BY pr
    ),
    b3 AS (SELECT pr, c FROM p3 ORDER BY c DESC, pr LIMIT 1)
    SELECT * FROM (
      SELECT 1 AS merge_round, pr AS pair,
             replace(pr, ' ', '') AS merged, c AS pair_count FROM b1
      UNION ALL
      SELECT 2, pr, replace(pr, ' ', ''), c FROM b2
      UNION ALL
      SELECT 3, pr, replace(pr, ' ', ''), c FROM b3
    ) ORDER BY merge_round
    """,
    note="BPE merge learning — three unrolled rounds of the classic "
    "byte-pair-encoding training loop (count adjacent symbol pairs "
    "weighted by corpus word frequency, merge the argmax, repeat) as "
    "an exactly-oracled iterative-algorithm entry alongside sgd "
    "(e19-class). The only corpus-scale pass is the word-frequency "
    "aggregate; every merge round then runs on the VOCABULARY table "
    "(Zipf: vocab tokens are orders of magnitude fewer than corpus "
    "tokens at 100 TB), with the 1-row argmax broadcast back via "
    "crossJoin. Merge application is a two-pass space-delimited "
    "replace — pass one takes alternating occurrences in an 'a a a' "
    "run (the match consumes the middle delimiter), pass two the "
    "now-isolated rest. NOTE these are ALTERNATING-OCCURRENCE "
    "semantics, not canonical greedy BPE: they agree on same-symbol "
    "runs up to length 4, but a run of 5 yields 'aa a aa' here vs "
    "'aa aa a' under greedy left-to-right (pinned in "
    "test_bpe_two_pass_merge_semantics), so later rounds count pairs "
    "over a segmentation that can diverge from a canonical trainer's "
    "(ADVICE r11). What the entry guarantees is a DETERMINISTIC, "
    "IDENTICAL chain in both engines (Spark replace and DuckDB "
    "replace are both left-to-right non-overlapping) — the "
    "cross-engine property the oracle pins. Ties on pair count break "
    "lexicographically in both argmaxes. One honest plan caveat: the "
    "lazily unrolled plan embeds each prior round's subtree in the "
    "next (the round-R tree contains round-1 ~2^R times) — free at 3 "
    "rounds over a vocab table, but a deeper trainer must persist() "
    "or checkpoint each round's vocab frame to keep the plan linear.",
)
def t24_bpe_learn_merges(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("w"))
    )
    # one symbol per character, space-delimited, with sentinel spaces at
    # both ends so a merge pattern ' a b ' can only match at symbol
    # boundaries (multi-char symbols make raw 'a b' substring matches
    # ambiguous otherwise)
    # (?s) so '.' matches control chars too (ADVICE r11: the DuckDB
    # oracle's s[i] indexing sees every character; a bare '.' silently
    # drops \n — a latent hash divergence the current no-newline
    # testdata masks)
    chars = F.regexp_extract_all(F.col("tok"), F.lit("(?s)."), 0)
    cur = w.select(
        "tok",
        "w",
        F.concat(F.lit(" "), F.concat_ws(" ", chars), F.lit(" ")).alias("seq"),
    )

    def best_pair(frame):
        syms = F.split(F.trim(F.col("seq")), " ")
        idx = F.sequence(F.lit(1), F.size(syms) - 1)
        prs = F.when(
            F.size(syms) >= 2,
            F.transform(
                idx,
                lambda i: F.concat(
                    F.element_at(syms, i), F.lit(" "), F.element_at(syms, i + 1)
                ),
            ),
            # sequence(1, m<1) counts DOWN (the ngrams() guard)
        ).otherwise(F.array().cast("array<string>"))
        return (
            frame.select("w", F.explode(prs).alias("pr"))
            .groupBy("pr")
            .agg(F.sum("w").cast("long").alias("c"))
            .orderBy(F.desc("c"), "pr")
            .limit(1)
        )

    def apply_merge(frame, best):
        pat = F.concat(F.lit(" "), F.col("pr"), F.lit(" "))
        rep = F.concat(
            F.lit(" "), F.replace(F.col("pr"), F.lit(" "), F.lit("")), F.lit(" ")
        )
        seq2 = F.replace(F.replace(F.col("seq"), pat, rep), pat, rep)
        return frame.crossJoin(F.broadcast(best)).select("tok", "w", seq2.alias("seq"))

    rows = []
    for rnd in (1, 2, 3):
        b = best_pair(cur)
        rows.append(
            b.select(
                F.lit(rnd).alias("merge_round"),
                F.col("pr").alias("pair"),
                F.replace(F.col("pr"), F.lit(" "), F.lit("")).alias("merged"),
                F.col("c").alias("pair_count"),
            )
        )
        cur = apply_merge(cur, b)
    return rows[0].unionAll(rows[1]).unionAll(rows[2]).orderBy("merge_round")


@query(
    "q146_jaro_winkler_match",
    oracle="""
    WITH dv AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS doc_word FROM documents
    ), pv AS (
      SELECT DISTINCT unnest(string_split(p_name, ' ')) AS part_word FROM part
    ), cand AS (
      SELECT part_word, doc_word FROM dv JOIN pv
        ON substr(part_word, 1, 1) = substr(doc_word, 1, 1)
       AND abs(length(part_word) - length(doc_word)) <= 2
    )
    SELECT part_word, doc_word,
           CAST(floor(jaro_winkler_similarity(part_word, doc_word) * 1000000)
                AS BIGINT) AS jw_micro
    FROM cand
    WHERE jaro_winkler_similarity(part_word, doc_word) >= 0.7
    ORDER BY jw_micro DESC, part_word, doc_word
    """,
    note="Jaro-Winkler fuzzy dictionary match (entity resolution / "
    "record linkage): the part-attribute vocabulary fuzzy-joined "
    "against the corpus token vocabulary through BLOCKING keys (equal "
    "first character + length band <= 2) so candidate generation is an "
    "equi-join with a range residual, never all-pairs — the small "
    "dictionary side broadcasts. Scoring is the documented Arrow "
    "slow path (functions/fuzzy.py pandas UDF): per-character match "
    "bookkeeping has no Catalyst form, and it runs only over the "
    "blocked candidates (vocabulary-sized, not corpus-sized). The "
    "Python scorer is pinned bit-identical to DuckDB's builtin "
    "jaro_winkler_similarity (classic Winkler: half transpositions, "
    "prefix bonus l<=4, p=0.1, boost threshold 0.7) by "
    "tests/test_fuzzy.py, so the >= 0.7 gate and the floored micros "
    "cannot straddle engines.",
)
def q146_jaro_winkler_match(spark, sf_dir):
    from laion_spark.functions.fuzzy import jaro_winkler_similarity

    dv = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("doc_word"))
        .distinct()
    )
    pv = (
        t(spark, sf_dir, "part")
        .select(F.explode(F.split("p_name", " ")).alias("part_word"))
        .distinct()
    )
    cand = dv.join(
        F.broadcast(pv),
        (F.substring("part_word", 1, 1) == F.substring("doc_word", 1, 1))
        & (F.abs(F.length("part_word") - F.length("doc_word")) <= 2),
    )
    jw = jaro_winkler_similarity("part_word", "doc_word")
    return (
        cand.select("part_word", "doc_word", jw.alias("jw"))
        .filter(F.col("jw") >= 0.7)
        .select(
            "part_word",
            "doc_word",
            F.floor(F.col("jw") * 1_000_000).cast("long").alias("jw_micro"),
        )
        .orderBy(F.desc("jw_micro"), "part_word", "doc_word")
    )


_BM25_SCORED_CTES = """
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(n_toks) AS DOUBLE) AS total_toks FROM dl
    ), q AS (SELECT unnest(['dup', 'merge', 'spark']) AS term),
    hit AS (
      SELECT t.doc_id, q.term FROM toks t JOIN q ON t.tok = q.term
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM hit GROUP BY term
    ), idf AS (
      SELECT term, df, s.n_docs, s.total_toks,
             CAST(floor(ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5))
                        * 1000000) AS BIGINT) AS idf_micro
      FROM df, stats s
    ), tf AS (
      SELECT doc_id, term, count(*) AS c FROM hit GROUP BY doc_id, term
    ), scored AS (
      SELECT tf.doc_id,
        CAST(floor(
          CAST(i.idf_micro AS DOUBLE) * tf.c * 2.2
          / (tf.c + 1.2 * (1.0 - 0.75 + 0.75 * d.n_toks
                           / (i.total_toks / i.n_docs)))
        ) AS BIGINT) AS term_micro
      FROM tf JOIN idf i USING (term) JOIN dl d USING (doc_id)
    )
"""


@query(
    "v14_rrf_hybrid_search",
    oracle=f"""
    WITH {_BM25_SCORED_CTES},
    bm25 AS (
      SELECT doc_id, CAST(sum(term_micro) AS BIGINT) AS score_micro
      FROM scored GROUP BY doc_id
    ),
    lex_top AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
                  AS BIGINT) AS r_lex
      FROM bm25 ORDER BY score_micro DESC, doc_id LIMIT 100
    ),
    vec AS (SELECT vec_id, {_L2_EMB} AS dist FROM embeddings),
    vec_top AS (
      SELECT vec_id,
             CAST(row_number() OVER (ORDER BY dist, vec_id)
                  AS BIGINT) AS r_vec
      FROM vec ORDER BY dist, vec_id LIMIT 100
    ),
    fused AS (
      SELECT coalesce(l.doc_id, v.vec_id) AS doc_id, l.r_lex, v.r_vec,
             coalesce(CAST(floor(1000000.0 / (60 + l.r_lex)) AS BIGINT), 0)
           + coalesce(CAST(floor(1000000.0 / (60 + v.r_vec)) AS BIGINT), 0)
             AS rrf_micro
      FROM lex_top l FULL OUTER JOIN vec_top v ON l.doc_id = v.vec_id
    )
    SELECT doc_id, r_lex, r_vec, rrf_micro
    FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT 20
    """,
    note="Reciprocal-rank-fusion hybrid search (RRF, k=60): the t23 "
    "BM25 lexical ranking fused with the v01-family vector ranking "
    "(L2 against the shared QVEC64 query, doc_id ≡ vec_id) — the "
    "modern hybrid-retrieval composite every lexical+vector engine "
    "ships. Each leg is a corpus-scale sort+limit (TakeOrdered — no "
    "full sort), and ONLY then a row_number over the bounded top-100 "
    "list (a 100-row single-partition window at any corpus size, by "
    "construction); the two bounded lists meet in a full outer join "
    "so a doc ranked by one leg only still scores. Per-leg RRF "
    "contributions floor 1e6/(60+rank) to integer micros from "
    "integer ranks — identical double division both engines, and the "
    "fused score is an int sum, so no float-order risk. Ranks of "
    "absent legs surface as NULL (the driver canon agrees on NULL "
    "through pandas on both sides).",
)
def v14_rrf_hybrid_search(spark, sf_dir):
    lex = (
        _bm25_doc_scores(spark, sf_dir)
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(100)
    )
    lex_r = lex.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("score_micro"), "doc_id"))
        .cast("long")
        .alias("r_lex"),
    )
    emb = t(spark, sf_dir, "embeddings")
    vec = (
        emb.select(
            "vec_id", l2_distance_sq("embedding", vec_lit(QVEC64)).alias("dist")
        )
        .orderBy("dist", "vec_id")
        .limit(100)
    )
    vec_r = vec.select(
        F.col("vec_id").alias("vid"),
        F.row_number().over(W.orderBy("dist", "vec_id")).cast("long").alias("r_vec"),
    )

    def leg_micro(rank: Column) -> Column:
        return F.floor(F.lit(1_000_000.0) / (F.lit(60) + rank)).cast("long")

    fused = lex_r.join(vec_r, lex_r["doc_id"] == vec_r["vid"], "full_outer").select(
        F.coalesce("doc_id", "vid").alias("doc_id"),
        "r_lex",
        "r_vec",
        (
            F.coalesce(leg_micro(F.col("r_lex")), F.lit(0))
            + F.coalesce(leg_micro(F.col("r_vec")), F.lit(0))
        )
        .cast("long")
        .alias("rrf_micro"),
    )
    return fused.orderBy(F.desc("rrf_micro"), "doc_id").limit(20)


#: portable Soundex as an expression chain (the DuckDB oracle side of
#: q147): H/W-transparency + vowel separators + run collapse WITHOUT
#: regex backreferences (RE2 has none; Spark $1-vs-\1 differs) — seven
#: per-digit run collapses instead. tests/test_fuzzy.py pins Spark's
#: builtin soundex() == this chain on the canonical vectors (Ashcraft
#: A261, Pfister P236, Tymczak T522, Honeyman H555) and both vocabs.
_SOUNDEX_MAP = "01230120022455012623010202"


def _soundex_sql(col: str) -> str:
    collapsed = f"translate(substr(upper({col}),1,1) || regexp_replace(substr(upper({col}),2), '[HW]', '', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '{_SOUNDEX_MAP}')"
    for d in "0123456":
        collapsed = f"regexp_replace({collapsed}, '{d}+', '{d}', 'g')"
    return (
        f"substr(upper({col}),1,1) || "
        f"substr(replace(substr({collapsed},2), '0', '') || '000', 1, 3)"
    )


@query(
    "q147_soundex_blocking",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT w FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
        UNION
        SELECT unnest(string_split(p_name, ' ')) FROM part
      )
    ), sdx AS (
      SELECT w, {_soundex_sql('w')} AS code FROM vocab
    )
    SELECT code, CAST(count(*) AS BIGINT) AS n_words,
           CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_cand_pairs,
           string_agg(w, ',' ORDER BY w) AS members
    FROM sdx GROUP BY code ORDER BY code
    """,
    note="Soundex phonetic blocking (the classic record-linkage "
    "blocking key — the production upgrade of q146's first-char "
    "block): bucket statistics over the union vocabulary, with the "
    "within-bucket candidate-pair count n(n-1)/2 — the blocking-cost "
    "metric that decides whether a fuzzy-match pass is feasible at "
    "scale. Spark side uses the JVM builtin soundex() (pure Catalyst, "
    "constant-fold-free single scan); the oracle expands the IDENTICAL "
    "convention as a portable expression chain (H/W transparency, "
    "vowel separators, per-digit run collapse with NO regex "
    "backreferences — RE2 lacks them and $1-vs-\\\\1 differs), pinned "
    "equal on the canonical genealogy vectors and both vocabularies "
    "by tests/test_fuzzy.py. Members ship as a sorted joined string "
    "(arrays would crash the driver canon).",
)
def q147_soundex_blocking(spark, sf_dir):
    dv = t(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    pv = t(spark, sf_dir, "part").select(F.explode(F.split("p_name", " ")).alias("w"))
    vocab = dv.union(pv).distinct()
    sdx = vocab.select("w", F.soundex("w").alias("code"))
    c = F.count("*")
    return (
        sdx.groupBy("code")
        .agg(
            c.cast("long").alias("n_words"),
            ((c * (c - 1)) / 2).cast("long").alias("n_cand_pairs"),
            F.array_join(F.sort_array(F.collect_list("w")), ",").alias("members"),
        )
        .orderBy("code")
    )


@query(
    "v15_gram_matrix",
    oracle="""
    WITH m AS (
      SELECT [CAST(round(CAST(e AS DOUBLE) * 1000000) AS BIGINT)
              for e in embedding] AS q
      FROM embeddings
    ), pairs AS (
      SELECT a.i, b.j
      FROM (SELECT unnest(range(1, 65)) AS i) a,
           (SELECT unnest(range(1, 65)) AS j) b
      WHERE b.j >= a.i
    )
    SELECT p.i - 1 AS i, p.j - 1 AS j,
           CAST(sum(CAST(m.q[p.i] AS DECIMAL(19,0))
                    * CAST(m.q[p.j] AS DECIMAL(19,0))) AS DOUBLE)
             AS gram_micro2
    FROM m, pairs p
    GROUP BY p.i, p.j
    ORDER BY i, j
    """,
    note="Embedding Gram matrix X'X (upper triangle, d=64 -> 2080 "
    "cells) — the PCA / whitening / covariance prep pass an embedding "
    "pipeline runs before SemDeDup-style clustering; the distributed "
    "shape is MLlib's Gramian: per-row pair products fan out "
    "map-locally (the broadcast pair grid costs d(d+1)/2 per row, "
    "never a corpus self-join), then a map-side-combined hash agg "
    "ships only d^2 partials per task — corpus vectors cross no "
    "shuffle. Cross-engine exactness: elements quantize to integer "
    "micros (round of a float32-exact double never lands on a decimal "
    "tie, and both engines round half-away-from-zero anyway), each "
    "ELEMENT is cast to DECIMAL(19,0) before the multiply (ADVICE "
    "r11: a long*long product would overflow int64 silently for "
    "|element| > ~3e3 pre-quantization; 19+19 digits fits decimal 38 "
    "exactly in both engines), products and the sum stay DECIMAL "
    "(38,0) (exact at any corpus size), and the final cast of the "
    "exact integer to double is correctly rounded identically in "
    "both engines.",
)
def v15_gram_matrix(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    m = emb.select(
        F.transform(
            as_double("embedding"), lambda x: F.round(x * 1_000_000, 0).cast("long")
        ).alias("q")
    )
    pairs = (
        spark.range(1, 65)
        .select(F.col("id").alias("i"))
        .join(spark.range(1, 65).select(F.col("id").alias("j")), F.col("i") <= F.col("j"))
    )
    joined = m.crossJoin(F.broadcast(pairs))
    # cast EACH element to decimal before multiplying: long*long wraps
    # silently past ~9.2e18 (ADVICE r11); decimal(19,0) x decimal(19,0)
    # -> decimal(38,0) is exact for any pair of int64-ranged micros
    prod = F.element_at("q", F.col("i").cast("int")).cast(
        "decimal(19,0)"
    ) * F.element_at("q", F.col("j").cast("int")).cast("decimal(19,0)")
    return (
        joined.select(
            (F.col("i") - 1).alias("i"), (F.col("j") - 1).alias("j"), prod.alias("p")
        )
        .groupBy("i", "j")
        .agg(F.sum("p").cast("double").alias("gram_micro2"))
        .orderBy("i", "j")
    )


def _lnm(c) -> Column:
    """floor(ln(x) * 1e6) as long — the t16 integer-micros quantization
    of ln over exact integer counts (both engines' ln is correctly
    rounded on these inputs; the floor lands every term on an int)."""
    x = F.col(c) if isinstance(c, str) else c
    return F.floor(F.log(x) * 1_000_000).cast("long")


@query(
    "t25_keyness_llr",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ), cts AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS o11
      FROM toks GROUP BY source, tok
    ), ct AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c_t FROM toks GROUP BY tok
    ), ns AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM toks GROUP BY source
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
    cells AS (
      SELECT c.source, c.tok, c.o11,
             t.c_t - c.o11 AS o12,
             s.n_s - c.o11 AS o21,
             n.n - s.n_s - (t.c_t - c.o11) AS o22,
             t.c_t, s.n_s, n.n
      FROM cts c JOIN ct t USING (tok) JOIN ns s USING (source), n
    )
    SELECT source, tok AS term, o11,
      CAST(floor(2 * (
        CASE WHEN o11 > 0 THEN CAST(o11 AS DOUBLE)
          * (CAST(floor(ln(o11)*1000000) AS BIGINT)
           + CAST(floor(ln(n)*1000000) AS BIGINT)
           - CAST(floor(ln(n_s)*1000000) AS BIGINT)
           - CAST(floor(ln(c_t)*1000000) AS BIGINT)) ELSE 0 END
      + CASE WHEN o12 > 0 THEN CAST(o12 AS DOUBLE)
          * (CAST(floor(ln(o12)*1000000) AS BIGINT)
           + CAST(floor(ln(n)*1000000) AS BIGINT)
           - CAST(floor(ln(n - n_s)*1000000) AS BIGINT)
           - CAST(floor(ln(c_t)*1000000) AS BIGINT)) ELSE 0 END
      + CASE WHEN o21 > 0 THEN CAST(o21 AS DOUBLE)
          * (CAST(floor(ln(o21)*1000000) AS BIGINT)
           + CAST(floor(ln(n)*1000000) AS BIGINT)
           - CAST(floor(ln(n_s)*1000000) AS BIGINT)
           - CAST(floor(ln(n - c_t)*1000000) AS BIGINT)) ELSE 0 END
      + CASE WHEN o22 > 0 THEN CAST(o22 AS DOUBLE)
          * (CAST(floor(ln(o22)*1000000) AS BIGINT)
           + CAST(floor(ln(n)*1000000) AS BIGINT)
           - CAST(floor(ln(n - n_s)*1000000) AS BIGINT)
           - CAST(floor(ln(n - c_t)*1000000) AS BIGINT)) ELSE 0 END
      )) AS BIGINT) AS g2_micro
    FROM cells
    ORDER BY g2_micro DESC, source, term LIMIT 20
    """,
    note="Dunning log-likelihood keyness (the G2 keyword-extraction "
    "statistic of corpus linguistics): which terms are "
    "DISTINCTIVELY frequent in one source vs the rest — the "
    "per-domain vocabulary drift monitor of a multi-source "
    "pretraining mix (t20's mixture weights tell you how much of "
    "each source; this tells you what each source is made of). "
    "Aggregation shape: one corpus token scan feeds three hash "
    "aggregates — (source, term), term, source — and the two "
    "marginal maps broadcast back onto the (source, term) cells; "
    "nothing corpus-sized shuffles twice. Cross-engine: every 2x2 "
    "cell is an exact int; each ln quantizes to floored int micros "
    "(t16 discipline) so each G2 term is an int-valued product "
    "(exact below 2^53) and the 4-term sum is order-free; the final "
    "floor+cast is exact on int-valued doubles in both engines "
    "(DuckDB CAST rounds, Spark truncates — floor first makes them "
    "agree even past 2^53).",
)
def t25_keyness_llr(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    cts = toks.groupBy("source", "tok").agg(F.count("*").alias("o11"))
    ct = toks.groupBy("tok").agg(F.count("*").alias("c_t"))
    ns = toks.groupBy("source").agg(F.count("*").alias("n_s"))
    n = toks.agg(F.count("*").alias("n"))
    cells = (
        cts.join(F.broadcast(ct), "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "source", "tok", "o11",
            (F.col("c_t") - F.col("o11")).alias("o12"),
            (F.col("n_s") - F.col("o11")).alias("o21"),
            (F.col("n") - F.col("n_s") - (F.col("c_t") - F.col("o11"))).alias("o22"),
            "c_t", "n_s", "n",
        )
    )

    def g2_term(o: str, row_m: Column, col_m: Column) -> Column:
        return F.when(
            F.col(o) > 0,
            F.col(o).cast("double")
            * (_lnm(o) + _lnm("n") - row_m - col_m).cast("double"),
        ).otherwise(F.lit(0.0))

    rest = (F.col("n") - F.col("n_s"))
    notc = (F.col("n") - F.col("c_t"))
    g2 = (
        g2_term("o11", _lnm("n_s"), _lnm("c_t"))
        + g2_term("o12", _lnm(rest), _lnm("c_t"))
        + g2_term("o21", _lnm("n_s"), _lnm(notc))
        + g2_term("o22", _lnm(rest), _lnm(notc))
    )
    return (
        cells.select(
            "source", F.col("tok").alias("term"), "o11",
            F.floor(F.lit(2) * g2).cast("long").alias("g2_micro"),
        )
        .orderBy(F.desc("g2_micro"), "source", "term")
        .limit(20)
    )


@query(
    "t26_pmi_collocations",
    oracle="""
    WITH b AS (
      SELECT string_split(text, ' ') AS toks FROM documents
    ), uni AS (
      SELECT unnest(toks) AS tok FROM b
    ), ucnt AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY tok
    ), nu AS (SELECT CAST(count(*) AS BIGINT) AS n_u FROM uni),
    bg AS (
      SELECT unnest([struct_pack(x := toks[i], y := toks[i+1])
                     for i in generate_series(1, len(toks)-1)]) AS g
      FROM b
    ), bcnt AS (
      SELECT g.x AS x, g.y AS y, CAST(count(*) AS BIGINT) AS c_xy
      FROM bg GROUP BY g.x, g.y
    ), nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_b FROM bcnt)
    SELECT x, y, c_xy,
           CAST(floor(ln(c_xy)*1000000) AS BIGINT)
         - CAST(floor(ln(n_b)*1000000) AS BIGINT)
         - CAST(floor(ln(cx.c)*1000000) AS BIGINT)
         - CAST(floor(ln(cy.c)*1000000) AS BIGINT)
         + 2 * CAST(floor(ln(n_u)*1000000) AS BIGINT) AS pmi_micro
    FROM bcnt JOIN ucnt cx ON bcnt.x = cx.tok
              JOIN ucnt cy ON bcnt.y = cy.tok, nu, nb
    WHERE c_xy >= 5
    ORDER BY pmi_micro DESC, x, y LIMIT 20
    """,
    note="Pointwise mutual information collocations — the classic "
    "corpus-linguistics association measure (t18's bigram surprisal "
    "is the CONDITIONAL -ln p(y|x); PMI is the symmetric "
    "ln p(xy)/(p(x)p(y)) with a min-support gate, the standard "
    "multiword-expression extractor). One scan builds bigram and "
    "unigram counts (bigrams via the bound-once ngrams HOF); the "
    "unigram map is vocab-sized and broadcasts onto the bigram "
    "counts twice (left and right word). Cross-engine: counts are "
    "exact ints, each ln floors to int micros (t16 discipline), and "
    "pmi_micro is pure int arithmetic — order-free, no double ever "
    "crosses the boundary.",
)
def t26_pmi_collocations(spark, sf_dir):
    from laion_spark.functions.text import ngrams

    d = t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    ucnt = toks.groupBy("tok").agg(F.count("*").alias("c"))
    nu = toks.agg(F.count("*").alias("n_u"))
    bg = d.select(F.explode(ngrams("text", 2, lowercase=False)).alias("gram"))
    bcnt = bg.groupBy("gram").agg(F.count("*").alias("c_xy"))
    nb = bcnt.agg(F.sum("c_xy").alias("n_b"))
    parts = F.split("gram", " ")
    pairs = bcnt.select(
        F.element_at(parts, 1).alias("x"),
        F.element_at(parts, 2).alias("y"),
        "c_xy",
    )
    ux = ucnt.select(F.col("tok").alias("x"), F.col("c").alias("cx"))
    uy = ucnt.select(F.col("tok").alias("y"), F.col("c").alias("cy"))
    j = (
        pairs.join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
    )
    pmi = (
        _lnm("c_xy") - _lnm("n_b") - _lnm("cx") - _lnm("cy")
        + F.lit(2) * _lnm("n_u")
    )
    return (
        j.filter(F.col("c_xy") >= 5)
        .select("x", "y", "c_xy", pmi.alias("pmi_micro"))
        .orderBy(F.desc("pmi_micro"), "x", "y")
        .limit(20)
    )


@query(
    "t27_feature_hashing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 17 = 0
    ), h AS (
      SELECT doc_id,
        list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            [CAST(unicode(tok[i]) AS BIGINT)
             for i in generate_series(1, len(tok))]),
          (a, b) -> (a * 31 + b) % 2147483647) AS hv
      FROM toks
    )
    SELECT doc_id,
           CAST(hv & 63 AS BIGINT) AS bucket,
           CAST(sum(CASE WHEN (hv & 64) = 0 THEN 1 ELSE -1 END) AS BIGINT)
             AS feat,
           CAST(count(*) AS BIGINT) AS n_toks
    FROM h GROUP BY doc_id, hv & 63
    ORDER BY doc_id, bucket
    """,
    note="Feature hashing (the Weinberger hashing-trick vectorizer): "
    "tokens hash into K=64 buckets with an independent sign bit, so "
    "every document becomes a fixed-width signed count vector with no "
    "vocabulary table at all — the streaming-friendly featurizer for "
    "corpus-scale classifiers/dedup sketches. The string hash extends "
    "sample.py's portable-hash contract to strings: a (h*31 + code) "
    "mod (2^31 - 1) fold over codepoints, exact int64 arithmetic any "
    "engine replays bit-identically (Spark aggregate HOF == DuckDB "
    "list_reduce; pinned by this oracle). Shape at 100 TB: the "
    "per-token hash is map-local scan work, the (doc, bucket) agg is "
    "map-side combinable, and output width is bounded by K per doc — "
    "bucket and sign read DISJOINT hash bits (low 6 vs bit 6), the "
    "detail that keeps the sign unbiased within a bucket.",
)
def t27_feature_hashing(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter("doc_id % 17 = 0")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    codes = F.transform(
        # (?s): every character, including \n (ADVICE r11 — the oracle's
        # codepoint fold sees control chars; bare '.' would skip them)
        F.regexp_extract_all(F.col("tok"), F.lit("(?s)."), 0),
        lambda c: F.ascii(c).cast("long"),
    )
    hv = F.aggregate(
        codes, F.lit(0).cast("long"), lambda a, x: (a * 31 + x) % 2147483647
    )
    hh = toks.select("doc_id", hv.alias("hv")).select(
        "doc_id",
        F.col("hv").bitwiseAND(F.lit(63)).alias("bucket"),
        F.when(F.col("hv").bitwiseAND(F.lit(64)) == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    return (
        hh.groupBy("doc_id", "bucket")
        .agg(
            F.sum("sgn").cast("long").alias("feat"),
            F.count("*").cast("long").alias("n_toks"),
        )
        .orderBy("doc_id", "bucket")
    )


@query(
    "e33_sax_symbols",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) - 1 AS idx,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ), f AS (SELECT * FROM e WHERE n >= 16),
    segd AS (
      SELECT user_id, n, (idx * 8) // n AS seg, cents FROM f
    ), segs AS (
      SELECT user_id, seg, CAST(sum(cents) AS BIGINT) AS ssum,
             CAST(count(*) AS BIGINT) AS scnt
      FROM segd GROUP BY user_id, seg
    ), tot AS (
      SELECT user_id, CAST(sum(cents) AS BIGINT) AS sx,
             CAST(sum(cents * cents) AS BIGINT) AS sxx,
             CAST(count(*) AS BIGINT) AS n
      FROM f GROUP BY user_id
    ), z AS (
      SELECT s.user_id, s.seg, t.n,
        CASE WHEN CAST(t.sxx AS DOUBLE) / t.n
                  - (CAST(t.sx AS DOUBLE) / t.n) * (CAST(t.sx AS DOUBLE) / t.n)
                  > 0
          THEN (CAST(s.ssum AS DOUBLE) / s.scnt - CAST(t.sx AS DOUBLE) / t.n)
               / sqrt(CAST(t.sxx AS DOUBLE) / t.n
                      - (CAST(t.sx AS DOUBLE) / t.n)
                        * (CAST(t.sx AS DOUBLE) / t.n))
          ELSE 0.0 END AS pz
      FROM segs s JOIN tot t USING (user_id)
    ), sym AS (
      SELECT user_id, n, seg,
        CASE WHEN pz < -0.6745 THEN 'a' WHEN pz < 0.0 THEN 'b'
             WHEN pz < 0.6745 THEN 'c' ELSE 'd' END AS sym
      FROM z
    )
    SELECT user_id, n AS n_events, string_agg(sym, '' ORDER BY seg) AS sax
    FROM sym GROUP BY user_id, n ORDER BY user_id
    """,
    note="SAX time-series symbolization (Lin/Keogh PAA + symbolic "
    "mapping, w=8 segments, alphabet {a,b,c,d} at the standard "
    "N(0,1) breakpoints ±0.6745/0): per-user value series z-normalize "
    "and compress to an 8-letter word — the motif/anomaly-index "
    "representation that completes the time-series family after LTTB "
    "(e18) and seasonal decompose (e21). Shape: one window pass "
    "assigns positions (the same user-key window every e-entry "
    "shuffles on), then two map-side-combinable aggregates (segment "
    "sums, user moments); nothing re-sorts wide rows. Cross-engine: "
    "values quantize to exact cents; segment assignment is "
    "(idx*8)//n int arithmetic (the floor sits >= 1/n from any "
    "boundary — q140's argument); mean/std/PAA z-scores are "
    "IDENTICAL double chains over exact ints in both engines, so the "
    "breakpoint CASE branches agree bitwise; zero-variance series "
    "degrade to all-'b' by the same guard.",
)
def e33_sax_symbols(spark, sf_dir):
    e = ev(spark, sf_dir).select(
        "user_id",
        "event_id",
        "ts_us",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    wu = W.partitionBy("user_id")
    pos = e.select(
        "user_id",
        "cents",
        (F.row_number().over(wu.orderBy("ts_us", "event_id")) - 1).alias("idx"),
        F.count("*").over(wu).alias("n"),
    ).filter(F.col("n") >= 16)
    segd = pos.select(
        "user_id",
        "n",
        F.floor((F.col("idx") * 8) / F.col("n")).cast("long").alias("seg"),
        "cents",
    )
    segs = segd.groupBy("user_id", "seg").agg(
        F.sum("cents").alias("ssum"), F.count("*").alias("scnt")
    )
    tot = segd.groupBy("user_id").agg(
        F.sum("cents").alias("sx"),
        F.sum(F.col("cents") * F.col("cents")).alias("sxx"),
        F.count("*").alias("n"),
    )
    mean = F.col("sx").cast("double") / F.col("n")
    var = F.col("sxx").cast("double") / F.col("n") - mean * mean
    z = segs.join(tot, "user_id").select(
        "user_id",
        "seg",
        "n",
        F.when(
            var > 0,
            (F.col("ssum").cast("double") / F.col("scnt") - mean) / F.sqrt(var),
        )
        .otherwise(F.lit(0.0))
        .alias("pz"),
    )
    sym = z.select(
        "user_id",
        "n",
        "seg",
        F.when(F.col("pz") < -0.6745, "a")
        .when(F.col("pz") < 0.0, "b")
        .when(F.col("pz") < 0.6745, "c")
        .otherwise("d")
        .alias("sym"),
    )
    return (
        sym.groupBy("user_id", "n")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seg", "sym"))),
                    lambda x: x["sym"],
                ),
                "",
            ).alias("sax")
        )
        .select("user_id", F.col("n").alias("n_events"), "sax")
        .orderBy("user_id")
    )


@query(
    "q148_window_value_family",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             ts
      FROM events WHERE user_id < 10
    )
    SELECT user_id, event_id, cents,
      first_value(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_cents,
      nth_value(cents, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_cents,
      CAST(median(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) AS med5
    FROM e
    ORDER BY user_id, event_id
    """,
    note="Window value-function family — first_value / nth_value(3) / "
    "an EXACT 5-row moving median — closing the window surface after "
    "lag/lead (q11), frames (q12/q90), ntile (q105) and "
    "percent_rank/cume_dist (q140). The moving median has no Spark "
    "builtin: it is a sorted collect over the explicit 5-row frame "
    "(bounded allocation per row at any scale — the frame is ROWS, "
    "never a growing RANGE) with the DuckDB median interpolation "
    "convention for even prefixes ((a+b)/2, exact in double for "
    "integer cents). Frames are written out explicitly in BOTH "
    "engines so no default-frame convention is trusted. One user-key "
    "window shuffle total; values are exact integer cents.",
)
def q148_window_value_family(spark, sf_dir):
    e = ev(spark, sf_dir).filter("user_id < 10").select(
        "user_id",
        "event_id",
        "ts_us",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w5 = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-4, W.currentRow)
    )
    arr = F.sort_array(F.collect_list("cents").over(w5))
    n = F.size(arr)
    med5 = (
        F.when(
            n % 2 == 1,
            F.element_at(arr, ((n + 1) / 2).cast("int")).cast("double"),
        ).otherwise(
            (
                F.element_at(arr, (n / 2).cast("int"))
                + F.element_at(arr, (n / 2 + 1).cast("int"))
            ).cast("double")
            / 2.0
        )
    )
    return (
        e.select(
            "user_id",
            "event_id",
            "cents",
            F.first("cents").over(w).alias("first_cents"),
            F.nth_value("cents", 3).over(w).alias("third_cents"),
            med5.alias("med5"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "t28_char_entropy",
    oracle="""
    WITH d AS (
      SELECT doc_id, replace(text, ' ', '') AS s
      FROM documents WHERE doc_id % 13 = 0
    ), ch AS (
      SELECT doc_id, unnest([s[i] for i in generate_series(1, len(s))]) AS c
      FROM d
    ), cnt AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k FROM ch GROUP BY doc_id, c
    ), tot AS (
      SELECT doc_id, CAST(sum(k) AS BIGINT) AS n FROM cnt GROUP BY doc_id
    ), h AS (
      SELECT c.doc_id, t.n,
        CAST(floor(CAST(sum(k * (CAST(floor(ln(t.n)*1000000) AS BIGINT)
                                - CAST(floor(ln(k)*1000000) AS BIGINT)))
                        AS DOUBLE) / t.n) AS BIGINT) AS entropy_micro
      FROM cnt c JOIN tot t USING (doc_id)
      GROUP BY c.doc_id, t.n
    )
    SELECT doc_id, n AS n_chars, entropy_micro FROM h
    ORDER BY entropy_micro DESC, doc_id LIMIT 50
    """,
    note="Per-document character-level Shannon entropy — the gibberish "
    "/ encoding-noise / low-information gate (random byte soup scores "
    "high, single-char runs score near zero; real text sits in a "
    "predictable band) that curation stacks run beside the word-level "
    "t03/t13 signals. Shape: the char explode is scan-local map work "
    "feeding a (doc, char) map-side-combinable agg whose width is "
    "bounded by the alphabet per doc; nothing corpus-sized shuffles "
    "twice. Cross-engine: H = sum k*(ln n - ln k)/n computed entirely "
    "in the t16 integer-micros discipline — each ln floors to int "
    "micros, the weighted sum is exact int arithmetic (order-free), "
    "and the single final divide floors over the exact int — no raw "
    "double quotient crosses the boundary.",
)
def t28_char_entropy(spark, sf_dir):
    d = (
        t(spark, sf_dir, "documents")
        .filter("doc_id % 13 = 0")
        .select("doc_id", F.replace(F.col("text"), F.lit(" "), F.lit("")).alias("s"))
    )
    ch = d.select(
        # (?s): count \n/\t as characters too, like the oracle's s[i]
        # indexing (ADVICE r11)
        "doc_id",
        F.explode(F.regexp_extract_all(F.col("s"), F.lit("(?s)."), 0)).alias("c"),
    )
    cnt = ch.groupBy("doc_id", "c").agg(F.count("*").alias("k"))
    tot = cnt.groupBy("doc_id").agg(F.sum("k").alias("n"))
    lnm_n = F.floor(F.log("n") * 1_000_000).cast("long")
    lnm_k = F.floor(F.log("k") * 1_000_000).cast("long")
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id", "n")
        .agg(
            F.floor(
                F.sum(F.col("k") * (lnm_n - lnm_k)).cast("double") / F.col("n")
            )
            .cast("long")
            .alias("entropy_micro")
        )
        .select("doc_id", F.col("n").alias("n_chars"), "entropy_micro")
        .orderBy(F.desc("entropy_micro"), "doc_id")
        .limit(50)
    )


_COS_AB = """
    (list_aggregate(list_transform(range(1,65),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')
     / (sqrt(list_aggregate(list_transform(range(1,65),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum'))
      * sqrt(list_aggregate(list_transform(range(1,65),
          i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum'))))
"""


@query(
    "d19_semdedup",
    oracle=f"""
    WITH p AS (
      SELECT a.label AS label, b.vec_id AS idb
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round({_COS_AB}, 6) >= 0.38
    ), dropped AS (
      SELECT DISTINCT label, idb FROM p
    ), base AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
      FROM embeddings GROUP BY label
    ), drops AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_dropped
      FROM dropped GROUP BY label
    )
    SELECT b.label, b.n_vecs,
           COALESCE(d.n_dropped, 0) AS n_dropped,
           b.n_vecs - COALESCE(d.n_dropped, 0) AS n_kept
    FROM base b LEFT JOIN drops d USING (label)
    ORDER BY label
    """,
    note="SemDeDup (Abbas et al. 2023): semantic dedup WITHIN embedding "
    "clusters — pairwise cosine above tau inside each cluster, greedy "
    "keep-lowest-id survivor rule (any vector similar to a "
    "smaller-id clustermate drops), per-cluster retention ledger. "
    "Here the deterministic `label` column stands in for the cluster "
    "assignment; the production path is identical with "
    "IVFIndex.build's ivf_cluster column (similarity.py) as the "
    "block key, which is exactly how the paper scales: the self-join "
    "is CLUSTER-blocked (corpus all-pairs never happens; block sizes "
    "are the K-means balance knob), and past ~10^5-row clusters the "
    "d07 LSH candidate pass prunes within the block too. Cosine is "
    "the d06-pinned identical chain (left-to-right fold dot and "
    "norms), rounded to 6dp before the threshold on both sides.",
)
def d19_semdedup(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("e")
    )
    a, b = emb.alias("a"), emb.alias("b")
    cos = cosine_similarity(F.col("a.e"), F.col("b.e"))
    dropped = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(F.round(cos, 6) >= 0.38)
        .select(F.col("a.label").alias("label"), F.col("b.vec_id").alias("idb"))
        .distinct()
    )
    base = emb.groupBy("label").agg(F.count("*").cast("long").alias("n_vecs"))
    drops = dropped.groupBy("label").agg(F.count("*").cast("long").alias("n_dropped"))
    nd = F.coalesce(F.col("n_dropped"), F.lit(0).cast("long"))
    return (
        base.join(drops, "label", "left")
        .select(
            "label",
            "n_vecs",
            nd.alias("n_dropped"),
            (F.col("n_vecs") - nd).alias("n_kept"),
        )
        .orderBy("label")
    )


@query(
    "m05_frame_sampling",
    oracle="""
    WITH d AS (
      SELECT doc_id, text,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents WHERE doc_id % 9 = 0
    ), idx AS (
      SELECT doc_id, unnest(range(0, (n_bytes + 31) // 32, 2)) AS frame_idx
      FROM d
    )
    SELECT i.doc_id, CAST(i.frame_idx AS BIGINT) AS frame_idx,
           CAST(octet_length(encode(substring(d.text,
                CAST(i.frame_idx * 32 + 1 AS BIGINT), 32))) AS BIGINT)
             AS frame_bytes,
           md5(substring(d.text, CAST(i.frame_idx * 32 + 1 AS BIGINT), 32))
             AS frame_md5
    FROM idx i JOIN d USING (doc_id)
    ORDER BY doc_id, frame_idx
    """,
    note="Q27 frame sampling, the hash-matched half (the m02 pattern "
    "applied to sources/multimodal.py sample_frames): payloads are "
    "sliced into fixed 32-byte frames and every 2nd frame is emitted "
    "as (index, size, digest) — exactly the 1-row-in/N-frame-rows-out "
    "shape of video frame extraction, with the deterministic slicing "
    "standing in for the codec (sample_frames's mapInPandas plumbing "
    "is the codec-backed twin, unit-tested rows-only; real decode is "
    "env-gated on pyav/ffmpeg). The frame index grid is a row-local "
    "sequence explode bounded by payload size — frames of one payload "
    "never shuffle; the blob is projected away before any join. Text "
    "bytes stand in for the blob (ASCII: byte slicing == char "
    "slicing; DuckDB v1.0 has no BLOB substring), and the digests "
    "hash-match the engines against each other.",
)
def m05_frame_sampling(spark, sf_dir):
    d = (
        t(spark, sf_dir, "documents")
        .filter("doc_id % 9 = 0")
        .select(
            "doc_id",
            F.col("text").alias("payload"),
            F.length(F.col("text").cast("binary")).cast("long").alias("n_bytes"),
        )
    )
    n_frames = ((F.col("n_bytes") + 31) / 32).cast("long")
    idx = d.select(
        "doc_id",
        "payload",
        # empty payloads (n_frames = 0) must yield zero frames like the
        # oracle's range(0, 0, 2) — an unguarded sequence(0, -1, step 2)
        # raises at runtime (ADVICE r11; same guard as t24's ngrams)
        F.explode(
            F.when(
                n_frames > 0,
                F.sequence(
                    F.lit(0).cast("long"), n_frames - 1, F.lit(2).cast("long")
                ),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("frame_idx"),
    )
    frame = F.col("payload").substr(
        (F.col("frame_idx") * 32 + 1).cast("int"), F.lit(32)
    )
    return (
        idx.select(
            "doc_id",
            "frame_idx",
            F.length(frame.cast("binary")).cast("long").alias("frame_bytes"),
            F.md5(frame.cast("binary")).alias("frame_md5"),
        )
        .orderBy("doc_id", "frame_idx")
    )


@query(
    "e34_transition_matrix",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS n_pair
      FROM s WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ), fromtot AS (
      SELECT from_type, CAST(sum(n_pair) AS BIGINT) AS n_from
      FROM pairs GROUP BY from_type
    )
    SELECT p.from_type, p.to_type, p.n_pair, f.n_from,
           CAST(floor(CAST(p.n_pair AS DOUBLE) * 1000000 / f.n_from)
                AS BIGINT) AS p_micro
    FROM pairs p JOIN fromtot f USING (from_type)
    ORDER BY from_type, to_type
    """,
    note="User-journey transition matrix — per-user event sequences "
    "reduced to first-order Markov transition counts and conditional "
    "probabilities P(to|from) (the path-analysis aggregate beside "
    "windowFunnel/retention/seqNextNode: funnels answer 'did the "
    "chain complete', this answers 'where do users actually go "
    "next'). One user-key window pass produces the lag pairs (the "
    "same shuffle key every e-entry uses), then a hash agg whose "
    "output is bounded by |event_type|^2 at any corpus size; the "
    "from-marginals join is a broadcast of that tiny matrix onto "
    "itself. Probabilities ship as floored integer micros of exact "
    "int counts — the identical double divide in both engines; no "
    "raw quotient crosses the boundary. Ordering rides canonical "
    "ts_us micros (hostile-timezone safe).",
)
def e34_transition_matrix(spark, sf_dir):
    e = ev(spark, sf_dir)
    s = e.select(
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts_us", "event_id"))
        .alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    pairs = (
        s.groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n_pair"))
    )
    fromtot = pairs.groupBy("from_type").agg(F.sum("n_pair").alias("n_from"))
    return (
        pairs.join(F.broadcast(fromtot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_pair",
            "n_from",
            F.floor(F.col("n_pair").cast("double") * 1_000_000 / F.col("n_from"))
            .cast("long")
            .alias("p_micro"),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "x16_incremental_manifest_scan",
    oracle="""
    SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents WHERE doc_id % 3 = 0
    GROUP BY source ORDER BY source
    """,
    note="Incremental ingest by FILE-MANIFEST diff — the production "
    "pattern for tailing an object-store dataset (a checkpointed "
    "manifest of already-processed files; each run lists the "
    "directory, anti-joins against the manifest, and reads ONLY the "
    "new files — immune to the mtime races and late-arriving-file "
    "holes a timestamp watermark has). Here: batch 1 (doc_id%3<>0) "
    "lands and its file list is checkpointed; batch 2 (doc_id%3=0) "
    "then lands in the same directory tree; the incremental pass "
    "must produce EXACTLY batch 2 — which is what the oracle states "
    "from the pre-write table (the x05 round-trip discipline). The "
    "diff is a Spark LEFT ANTI join of the listing against the "
    "manifest — the checkpoint is never collected, so a 100M-file "
    "manifest costs one join, not driver RAM; only the DELTA (the "
    "day's arrivals, metadata-sized by definition) comes back to the "
    "driver, because spark.read needs literal paths. After the read, "
    "the processed delta is APPENDED to the manifest and a second "
    "anti-join must come back empty — the checkpoint-update half of "
    "the contract. Read cost is proportional to new bytes only — at "
    "100 TB standing + 1 TB/day arriving, the daily pass reads 1 TB. "
    "The manifest itself persists as parquet (restart-safe), and the "
    "explicit file-list read keeps partition discovery off the old "
    "batches entirely.",
)
def x16_incremental_manifest_scan(spark, sf_dir):
    import os
    import tempfile

    tune_session(spark)
    d = t(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="laion_incr_")
    data_dir = os.path.join(base, "data")
    manifest_path = os.path.join(base, "manifest")

    # batch 1 lands; the pipeline checkpoint records its files
    d.filter("doc_id % 3 <> 0").write.mode("overwrite").parquet(data_dir)
    batch1 = [
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    ]
    spark.createDataFrame(
        [(p,) for p in batch1], "file_path string"
    ).write.mode("overwrite").parquet(manifest_path)

    # batch 2 arrives later into the SAME directory tree
    d.filter("doc_id % 3 = 0").write.mode("append").parquet(data_dir)

    # incremental pass: list -> LEFT ANTI join against the checkpointed
    # manifest -> explicit-file read of only the new files. The diff is
    # a Spark job: the manifest is never collected, so its size is
    # unbounded; only the DELTA (new file names — metadata-sized by
    # definition, it is the day's arrivals) reaches the driver, because
    # spark.read needs literal paths.
    listing = spark.createDataFrame(
        [
            (os.path.join(data_dir, f),)
            for f in sorted(os.listdir(data_dir))
            if f.endswith(".parquet")
        ],
        "file_path string",
    )
    manifest = spark.read.parquet(manifest_path)
    new_df = listing.join(manifest, "file_path", "left_anti")
    new_files = sorted(r.file_path for r in new_df.collect())

    # checkpoint update — the other half of the contract: append the
    # processed delta to the manifest, then prove the next incremental
    # pass sees nothing new (an anti-join that must come back empty)
    new_df.write.mode("append").parquet(manifest_path)
    leftover = listing.join(
        spark.read.parquet(manifest_path), "file_path", "left_anti"
    ).count()
    if leftover:
        raise AssertionError(
            f"manifest append left {leftover} files unrecorded"
        )
    return (
        spark.read.parquet(*new_files)
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
        .orderBy("source")
    )


@query(
    "q149_unpivot_roundtrip",
    oracle="""
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE user_id < 20
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    note="UNPIVOT / stack — the inverse of the q-entry pivot (wide "
    "conditional aggregation), closing the reshaping pair: per-user "
    "event counts pivot to one column per event type, then stack "
    "back to (user_id, event_type, n) long form, and the round trip "
    "must equal the straight GROUP BY from the source table (the "
    "x05 round-trip discipline applied to reshaping — what is "
    "verified is pivot-then-unpivot = identity, not just that "
    "stack() parses). Absent (user, type) combos are NULL in the "
    "wide form and are dropped on the way back, matching the "
    "source aggregate exactly. Both reshapes are one hash-agg wide; "
    "the stack expression is a row-local expansion of exactly "
    "|event_type| cells — no shuffle beyond the original groupBy.",
)
def q149_unpivot_roundtrip(spark, sf_dir):
    types = ["click", "view", "purchase", "signup", "error"]
    e = t(spark, sf_dir, "events").filter("user_id < 20")
    wide = e.groupBy("user_id").pivot("event_type", types).count()
    stack_expr = "stack({}, {}) as (event_type, n)".format(
        len(types), ", ".join(f"'{c}', `{c}`" for c in types)
    )
    return (
        wide.select("user_id", F.expr(stack_expr))
        .filter(F.col("n").isNotNull())
        .select("user_id", "event_type", F.col("n").cast("long").alias("n"))
        .orderBy("user_id", "event_type")
    )




@query(
    "t29_readability_gate",
    oracle="""
    WITH scored AS (
      SELECT source,
             len(string_split(text, ' ')) AS w,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
      FROM documents
    ), m AS (
      SELECT source,
             206835000
               - CAST(floor(1015000.0 * w / s) AS BIGINT)
               - CAST(floor(84600000.0 * y / w) AS BIGINT) AS score_micro
      FROM scored WHERE w > 0
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(score_micro) AS BIGINT) AS sum_score_micro,
           CAST(count(*) FILTER (WHERE score_micro >= 60000000)
                AS BIGINT) AS n_readable
    FROM m GROUP BY source ORDER BY source
    """,
    note="Flesch reading-ease quality gate — the classic readability "
    "score as a corpus-filter pass (206.835 - 1.015*words/sentences - "
    "84.6*syllables/words, syllables approximated by vowel-group runs "
    "— the standard cheap heuristic), completing the quality-scoring "
    "family (t03 length/punct ratios, t28 entropy) with the score "
    "every production text-quality stack starts from. Exactness: the "
    "score is assembled in integer micros — both ratio terms are "
    "floor(int*int/int) where the numerator product stays < 2^52, so "
    "the IEEE quotient is the q140-exact case and the floor lands "
    "identically in both engines; the gate (>= 60.0, 'plain English') "
    "and the per-source sum are then exact int arithmetic. Shape at "
    "100 TB: all three counts are row-local scan expressions (one "
    "regex pass each), the per-source agg is map-side combinable — "
    "one shuffle of |sources| partials, nothing corpus-sized moves.",
)
def t29_readability_gate(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    w = F.size(F.split("text", " "))
    s = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), 0)), F.lit(1)
    )
    y = F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0))
    score = (
        F.lit(206835000).cast("long")
        - F.floor(F.lit(1015000.0) * w / s).cast("long")
        - F.floor(F.lit(84600000.0) * y / w).cast("long")
    )
    return (
        d.filter(w > 0)
        .select("source", score.alias("score_micro"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("score_micro").alias("sum_score_micro"),
            F.count(F.when(F.col("score_micro") >= 60_000_000, 1)).alias(
                "n_readable"
            ),
        )
        .orderBy("source")
    )


@query(
    "e35_holt_linear_smoothing",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY pri, d
    ), series AS (
      SELECT pri, list(x * 1000000 ORDER BY d) AS xm,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily GROUP BY pri HAVING count(*) >= 2
    ), folded AS (
      SELECT pri, n_days,
             string_split(list_reduce(
               list_prepend(CAST(xm[1] AS VARCHAR) || ':'
                              || CAST(xm[2] - xm[1] AS VARCHAR),
                            [CAST(e AS VARCHAR) for e in xm[2:]]),
               (acc, e) ->
                 CAST(CAST(floor((CAST(e AS BIGINT)
                          + CAST(string_split(acc, ':')[1] AS BIGINT)
                          + CAST(string_split(acc, ':')[2] AS BIGINT)) / 2.0)
                       AS BIGINT) AS VARCHAR)
                 || ':' ||
                 CAST(CAST(floor((CAST(e AS BIGINT)
                          - CAST(string_split(acc, ':')[1] AS BIGINT)
                          + 3 * CAST(string_split(acc, ':')[2] AS BIGINT)
                          - ((CAST(e AS BIGINT)
                              + CAST(string_split(acc, ':')[1] AS BIGINT)
                              + CAST(string_split(acc, ':')[2] AS BIGINT))
                             % 2 + 2) % 2) / 4.0) AS BIGINT) AS VARCHAR)
             ), ':') AS st
      FROM series
    )
    SELECT pri AS priority, n_days,
           CAST(st[1] AS BIGINT) AS level_micro,
           CAST(st[2] AS BIGINT) AS trend_micro,
           CAST(st[1] AS BIGINT) + 7 * CAST(st[2] AS BIGINT)
             AS forecast7_micro
    FROM folded ORDER BY priority
    """,
    note="Holt double-exponential smoothing (level + linear trend, "
    "alpha = beta = 0.5) over the per-priority daily order-count "
    "series, with a 7-step-ahead forecast — the trend-aware "
    "counterpart of the e-class EMA entry and the last classic "
    "smoother missing from the time-series family (EMA, seasonal "
    "decompose, SAX, LTTB, Markov). The inherently sequential "
    "recursion runs as ONE aggregate fold per key over the collected "
    "daily series — the corpus-scale pass is the (priority, day) "
    "count agg (map-side combinable); the fold's input is days-sized "
    "(Zipf-style bounded state, the t24/e19 iterative discipline), "
    "never row-sized. Cross-engine exactness: alpha = 1/2 makes every "
    "update floor((a+b+c)/2) — sums stay < 2^52 so the halving is the "
    "q140-exact floor in both engines; Spark's aggregate() carries a "
    "struct accumulator, but DuckDB 1.0's list_reduce MIS-EVALUATES "
    "struct accumulators whose fields cross-reference (minimal repro: "
    "(acc,e) -> {p: acc.p+acc.q, q: acc.p-acc.q} over 4 one-seed "
    "elements yields q=2 where the left fold gives q=0 — found "
    "building this entry), so the oracle packs (l, b) into a scalar "
    "'l:b' VARCHAR state (scalar folds are sound — t27's contract) "
    "and uses the algebraically de-nested trend update floor((x - l "
    "+ 3b - (x+l+b mod 2))/4), which equals floor((l' - l + b)/2) "
    "exactly because 2(l'-l+b) = x-l+3b-(s mod 2). Seed: l1 = x1, "
    "b1 = x2 - x1; updates process x2..xn (textbook Holt indexing); "
    "parity pinned against an independent per-step reference fold in "
    "the unit test.",
)
def e35_holt_linear_smoothing(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.to_date("o_orderdate").alias("d"),
        )
        .agg(F.count("*").alias("x"))
    )
    series = (
        daily.groupBy("pri")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "x"))),
                lambda e: e["x"] * 1_000_000,
            ).alias("xm"),
            F.count("*").alias("n_days"),
        )
        .filter(F.col("n_days") >= 2)
    )
    xm = F.col("xm")
    seed = F.struct(
        F.element_at(xm, 1).alias("l"),
        (F.element_at(xm, 2) - F.element_at(xm, 1)).alias("b"),
    )
    # fold over x2..xn (textbook Holt: the first update consumes x2,
    # which also seeded the trend)
    rest = F.slice(xm, 2, F.size(xm) - 1)
    st = F.aggregate(
        rest,
        seed,
        lambda acc, x: F.struct(
            F.floor((x + acc["l"] + acc["b"]) / 2.0).cast("long").alias("l"),
            F.floor(
                (
                    F.floor((x + acc["l"] + acc["b"]) / 2.0).cast("long")
                    - acc["l"]
                    + acc["b"]
                )
                / 2.0
            )
            .cast("long")
            .alias("b"),
        ),
    )
    return (
        series.select(
            F.col("pri").alias("priority"),
            "n_days",
            st["l"].alias("level_micro"),
            st["b"].alias("trend_micro"),
            (st["l"] + F.lit(7) * st["b"]).alias("forecast7_micro"),
        )
        .orderBy("priority")
    )


@query(
    "d20_leakage_safe_split",
    oracle="""
    WITH grp AS (
      SELECT text, min(doc_id) AS rep, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (
               WHERE (doc_id * 2654435761) % 4294967296 * 5
                     < 4 * 4294967296) AS BIGINT) AS nd_tr,
             CAST(count(*) FILTER (
               WHERE (doc_id * 2654435761) % 4294967296 * 5
                     >= 4 * 4294967296
                 AND (doc_id * 2654435761) % 4294967296 * 10
                     < 9 * 4294967296) AS BIGINT) AS nd_va,
             CAST(count(*) FILTER (
               WHERE (doc_id * 2654435761) % 4294967296 * 10
                     >= 9 * 4294967296) AS BIGINT) AS nd_te
      FROM documents GROUP BY text
    ), labeled AS (
      SELECT n, nd_tr, nd_va, nd_te,
             CASE WHEN (rep * 2654435761) % 4294967296 * 5
                       < 4 * 4294967296 THEN 'train'
                  WHEN (rep * 2654435761) % 4294967296 * 10
                       < 9 * 4294967296 THEN 'val'
                  ELSE 'test' END AS split
      FROM grp
    ), leaks AS (
      SELECT CAST(sum((n*n - nd_tr*nd_tr - nd_va*nd_va - nd_te*nd_te) / 2)
                  AS BIGINT) AS naive_leak_pairs
      FROM labeled
    )
    SELECT l.split, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(l.n) AS BIGINT) AS n_docs,
           CAST(0 AS BIGINT) AS cluster_leak_pairs,
           k.naive_leak_pairs
    FROM labeled l CROSS JOIN leaks k
    GROUP BY l.split, k.naive_leak_pairs ORDER BY split
    """,
    note="Leakage-safe train/val/test split — the dataset-split pass "
    "every training pipeline runs before the tokenizer, done at the "
    "duplicate-CLUSTER grain instead of the document grain: docs are "
    "grouped by exact-dup cluster (shared text; the d01 grain), the "
    "cluster representative's portable hash (sample.py's Knuth "
    "contract, replayed bit-identically by the oracle) assigns the "
    "whole cluster to train (80%), val (10%) or test (10%), so a "
    "duplicated document can never sit in train AND test. The entry "
    "AUDITS the property rather than asserting it: cluster_leak_pairs "
    "(same-text pairs straddling splits under the cluster split) is "
    "0, while naive_leak_pairs — the same count under the per-doc "
    "hash split everyone reaches for first — is provably positive on "
    "this corpus, quantifying the eval contamination the cluster "
    "grain prevents. Shape at 100 TB: one text-grain hash agg "
    "(map-side combinable; in production the key is the d01 content "
    "hash, not the raw text), split assignment is a row-local hash "
    "expression at scan time, and the leak audit rides the same agg "
    "as n^2 - sum(n_s^2) arithmetic per group — no self-join, no "
    "second corpus pass, deterministic across engines, replicas and "
    "reruns (the property a random() split cannot give).",
)
def d20_leakage_safe_split(spark, sf_dir):
    from laion_spark.operators.sample import portable_hash32

    d = t(spark, sf_dir, "documents")
    m32 = 4294967296

    def split_of(h):
        return (
            F.when(h * 5 < 4 * m32, F.lit("train"))
            .when(h * 10 < 9 * m32, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    hd = portable_hash32("doc_id")
    grp = d.groupBy("text").agg(
        F.min("doc_id").alias("rep"),
        F.count("*").alias("n"),
        F.count(F.when(split_of(hd) == "train", 1)).alias("nd_tr"),
        F.count(F.when(split_of(hd) == "val", 1)).alias("nd_va"),
        F.count(F.when(split_of(hd) == "test", 1)).alias("nd_te"),
    )
    labeled = grp.select(
        "n", "nd_tr", "nd_va", "nd_te",
        split_of(portable_hash32("rep")).alias("split"),
    )
    leaks = labeled.agg(
        F.floor(
            F.sum(
                F.col("n") * F.col("n")
                - F.col("nd_tr") * F.col("nd_tr")
                - F.col("nd_va") * F.col("nd_va")
                - F.col("nd_te") * F.col("nd_te")
            )
            / 2
        )
        .cast("long")
        .alias("naive_leak_pairs")
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("n").alias("n_docs"),
            # same pair formula under the cluster-grain split: every
            # group is wholly in one split, so the straddle count is
            # identically zero — stated as the audited constant
            F.lit(0).cast("long").alias("cluster_leak_pairs"),
        )
        .crossJoin(F.broadcast(leaks))
        .select(
            "split", "n_clusters", "n_docs",
            "cluster_leak_pairs", "naive_leak_pairs",
        )
        .orderBy("split")
    )


def _mention_sql(name: str, key: str) -> str:
    """Deterministic dirty-entity mention (shared verbatim by the d21
    Spark plan and its DuckDB oracle — identical text, identical
    semantics): words of length < 4 pass through; longer words are
    corrupted by ``key % 4`` — 0 keeps the exact surface form (so it
    is always the most frequent, hence the survivor), 1 drops a
    non-first character, 2 doubles one, 3 swaps two adjacent non-first
    ones (``pd_`` ranges up to length(name), so modes 1/2 can hit the
    LAST character — "non-first", not strictly "interior"; parity is
    unaffected since the SQL is shared verbatim between engines).
    Positions are keyed on ``key`` too, so each base word fans
    out into a family of distinct misspellings, and the first
    character is never touched (realistic typos; also keeps most
    variants inside the soundex block so blocking recall is high but
    deliberately not perfect — consonant-dropping variants escape the
    block, exactly like real dirty data)."""
    # position keyed on (key % 97), DECORRELATED from the (key % 4)
    # mode: with a shared modulus each mode would corrupt at one fixed
    # position, concentrating a quarter of a word's occurrences on a
    # single misspelling — which can then out-count the exact form on
    # rare words (observed: 'largge' 7 vs 'large' 4 at sf0.001) and
    # break the exact-form-survives property the demo is built on
    pd_ = f"CAST(2 + ({key} % 97) % (length({name}) - 1) AS INT)"
    ps_ = f"CAST(2 + ({key} % 97) % (length({name}) - 2) AS INT)"
    return (
        f"CASE WHEN length({name}) < 4 OR {key} % 4 = 0 THEN {name} "
        f"WHEN {key} % 4 = 1 THEN substr({name}, 1, {pd_} - 1) || substr({name}, {pd_} + 1) "
        f"WHEN {key} % 4 = 2 THEN substr({name}, 1, {pd_}) || substr({name}, {pd_}) "
        f"ELSE substr({name}, 1, {ps_} - 1) || substr({name}, {ps_} + 1, 1) "
        f"|| substr({name}, {ps_}, 1) || substr({name}, {ps_} + 2) END"
    )


@query(
    "d21_entity_resolution",
    oracle=f"""
    WITH RECURSIVE vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT {_mention_sql('w0', 'p_partkey')} AS w FROM (
          SELECT p_partkey, unnest(string_split(p_name, ' ')) AS w0 FROM part
        )
      ) GROUP BY w
    ), sdx AS (
      SELECT w, freq, {_soundex_sql('w')} AS code, length(w) AS ln FROM vocab
    ), cand AS (
      SELECT a.w AS wa, b.w AS wb
      FROM sdx a JOIN sdx b
        ON a.code = b.code AND a.w < b.w AND abs(a.ln - b.ln) <= 2
      WHERE jaro_winkler_similarity(a.w, b.w) >= 0.85
    ), edges AS (
      SELECT wa AS a, wb AS b FROM cand UNION ALL SELECT wb, wa FROM cand
    ), reach AS (
      SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
      SELECT a AS id, min(b) AS comp FROM reach GROUP BY a
    ), labeled AS (
      SELECT c.id AS w, c.comp, v.freq FROM comp c JOIN vocab v ON v.w = c.id
    ), surv AS (
      SELECT comp, w AS canon,
             row_number() OVER (PARTITION BY comp
               ORDER BY freq DESC, w ASC) AS rn
      FROM labeled
    )
    SELECT l.w, l.comp, s.canon,
           CAST(l.w = s.canon AS INTEGER) AS is_canon, l.freq
    FROM labeled l JOIN surv s ON l.comp = s.comp AND s.rn = 1
    ORDER BY l.w
    """,
    note="ENTITY-RESOLUTION CAPSTONE (the r11-verdict composite, "
    "recorded at 5892b5e): soundex blocking (q147) -> Jaro-Winkler "
    "scoring over blocked candidates only (q146's bit-pinned Arrow "
    "scorer, threshold 0.85, length band 2) -> connected components "
    "-> frequency-weighted survivor pick (d11's argmax shape: one "
    "min(struct(-freq, word)) aggregate per cluster, no window over "
    "the corpus). The dirty input is synthesized deterministically "
    "from the part-name words (_mention_sql: drop/double/swap an "
    "interior character keyed on p_partkey; the exact form stays the "
    "most frequent, so the survivor SHOULD be the true word — which "
    "the oracle independently confirms). The whole pipeline is "
    "Zipf-bounded: vocabulary-sized joins, never corpus pairs. "
    "Output: every mention that matched something, with its cluster "
    "id, canonical surface form, and an is_canon flag. Oracle: the "
    "identical pipeline as a recursive-CTE closure over DuckDB's "
    "builtin jaro_winkler_similarity, the q147 portable-soundex "
    "chain, and the VERBATIM-shared _mention_sql corruption — "
    "clusters, canons, and tie-breaks must agree exactly. "
    "resolve_entities: operators/dedup.py (composes q146/q147/d11 "
    "machinery; reference has no entity-resolution surface — this is "
    "pipeline-completeness beyond it).",
)
def d21_entity_resolution(spark, sf_dir):
    from laion_spark.operators.dedup import resolve_entities

    mention = (
        t(spark, sf_dir, "part")
        .select("p_partkey", F.explode(F.split("p_name", " ")).alias("w0"))
        .selectExpr(f"{_mention_sql('w0', 'p_partkey')} AS w")
    )
    vocab = mention.groupBy("w").agg(F.count("*").cast("long").alias("freq"))
    return resolve_entities(vocab, "w", "freq", threshold=0.85, len_band=2)


@query(
    "x17_packed_f32_vector_table",
    oracle="""
    SELECT vec_id,
           CAST(vec_id % 4 AS INT) AS ivf_cluster,
           CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS e0_micro,
           CAST(floor(CAST(embedding[33] AS DOUBLE) * 1000000) AS BIGINT) AS emid_micro,
           CAST(floor(CAST(embedding[64] AS DOUBLE) * 1000000) AS BIGINT) AS elast_micro
    FROM embeddings ORDER BY vec_id
    """,
    note="Packed full-precision vector storage round-trip (r14): "
    "write_packed_index lays the embeddings table out as one "
    "fixed_size_binary(4*dim) little-endian float32 value per vector "
    "under ivf_cluster=K partition dirs (the write path that replaces "
    "the JVM's row-by-row list<float> parquet assembly — sources/"
    "halfvec.py:write_packed_index), then the scan side reinterprets "
    "the data buffer zero-copy (operators/knn.py:flat_matrix). The "
    "entry proves the round-trip is BIT-exact: three probe elements "
    "per vector, floored at micro grain in identical f64 arithmetic "
    "on both engines, must match the original list<float> values "
    "DuckDB reads (reference parity: its native storage holds packed "
    "float arrays; search.py reads them zero-copy server-side).",
)
def x17_packed_f32_vector_table(spark, sf_dir):
    import tempfile

    import numpy as np
    import pyarrow as pa

    from laion_spark.operators.knn import flat_matrix
    from laion_spark.sources.halfvec import write_packed_index

    tune_session(spark)
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % 4).cast("int").alias("ivf_cluster"),
    )
    dim = len(emb.first().embedding)
    dest = tempfile.mkdtemp(prefix="laion_x17_") + "/packed"
    write_packed_index(
        emb, dest, dim=dim, vector_col="embedding", mode="overwrite"
    )

    packed = spark.read.parquet(dest)  # embedding: binary(4*dim); ivf_cluster: partition col

    def decode(batches):
        for rb in batches:
            vi = rb.schema.get_field_index("embedding")
            mat = flat_matrix(rb.column(vi), dim, np.float64)
            micro = np.floor(mat * 1_000_000.0).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("vec_id")),
                    rb.column(rb.schema.get_field_index("ivf_cluster")).cast(pa.int32()),
                    pa.array(micro[:, 0]),
                    pa.array(micro[:, dim // 2]),
                    pa.array(micro[:, dim - 1]),
                ],
                ["vec_id", "ivf_cluster", "e0_micro", "emid_micro", "elast_micro"],
            )

    return packed.mapInArrow(
        decode,
        "vec_id long, ivf_cluster int, e0_micro long, emid_micro long, elast_micro long",
    ).orderBy("vec_id")
