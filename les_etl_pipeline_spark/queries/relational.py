"""Core relational query surface: scans, filters, projections, aggregations,
joins (full family), sorts/limits, distinct.

Fills SURVEY.md §2.12's gap table: the reference (an ETL client) has no
joins or aggregations of its own, so this module provides the general
relational operator surface the engine exposes, expressed declaratively so
Catalyst applies pushdown/pruning/join-selection (SURVEY.md §4).

Conventions:
- every computed column is aliased identically in Spark and oracle SQL;
- doubles are rounded to 2dp on both sides (reference F9 semantics,
  silver_funcs.py:30-31);
- oracle aggregates are cast to match Spark output types (DuckDB sum(int)
  is HUGEINT, year() is BIGINT, ...).
- small dimension tables are broadcast explicitly (100 TB design: the fact
  tables shuffle only when the join key demands it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.rounding import hround
from .registry import register


# --------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped pricing summary (scan -> filter -> hash agg ->
# sort). SURVEY.md §7.1 minimum slice.
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           (floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0)                                   AS sum_qty,
           (floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0)                              AS sum_base_price,
           (floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0)           AS sum_disc_price,
           (floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100.0 + 0.5) / 100.0) AS sum_charge,
           (floor((avg(l_quantity)) * 100.0 + 0.5) / 100.0)                                   AS avg_qty,
           (floor((avg(l_extendedprice)) * 100.0 + 0.5) / 100.0)                              AS avg_price,
           (floor((avg(l_discount)) * 10000.0 + 0.5) / 10000.0)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1999-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            hround(F.sum("l_quantity")).alias("sum_qty"),
            hround(F.sum("l_extendedprice")).alias("sum_base_price"),
            hround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_price"),
            hround(F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                )).alias("sum_charge"),
            hround(F.avg("l_quantity")).alias("avg_qty"),
            hround(F.avg("l_extendedprice")).alias("avg_price"),
            hround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q3-shaped: 3-way join + agg + deterministic top-k
# --------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           (floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0) AS revenue,
           CAST(o_orderdate AS DATE)                          AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    # orders/customer are fact-scale (grow with SF): no broadcast hint —
    # AQE broadcasts at small SF and shuffle-joins at 100 TB. Hints are
    # reserved for fixed-cardinality dims (region/nation).
    return (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            hround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# TPC-H Q5-shaped: 6-way star join, dims broadcast
# --------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           (floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0) AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE') AND c_nationkey = s_nationkey
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").where(F.col("r_name").isin("ASIA", "EUROPE"))
    # broadcast hints ONLY on fixed-cardinality dims (nation: 25 rows,
    # region: 5 rows); orders/customer/supplier scale with SF — AQE
    # picks broadcast locally and shuffle-join at 100 TB
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .where(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            hround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Join family (§2.12): inner / left / right / full / semi / anti / cross /
# theta. Reference has none (SURVEY.md §2.7) — this is the engine surface.
# --------------------------------------------------------------------------
@register(
    "join_inner_basic",
    oracle="""
    SELECT o_orderkey, c_name, (floor((o_totalprice) * 100.0 + 0.5) / 100.0) AS totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'F' AND o_totalprice > 400000
    """,
)
def join_inner_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 400000)
    )
    cust = table(spark, sf_dir, "customer")
    # customer is fact-scale: no hint, AQE decides
    return orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_name", hround("o_totalprice").alias("totalprice")
    )


@register(
    "join_left_outer_counts",
    oracle="""
    SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
           (floor((coalesce(sum(o_totalprice), 0)) * 100.0 + 0.5) / 100.0) AS spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_left_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            hround(F.coalesce(F.sum("o_totalprice"), F.lit(0.0))).alias("spend"),
        )
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT s_suppkey, s_name, n_name
    FROM nation RIGHT JOIN supplier ON n_nationkey = s_nationkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = table(spark, sf_dir, "nation")
    supp = table(spark, sf_dir, "supplier")
    return nation.join(supp, nation.n_nationkey == supp.s_nationkey, "right").select(
        "s_suppkey", "s_name", "n_name"
    )


@register(
    "join_full_outer",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, count(*) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, count(*) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(cn.nk, sn.nk) AS nationkey,
           coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    cn = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(F.count(F.lit(1)).alias("n_cust"))
    sn = supp.groupBy(F.col("s_nationkey").alias("nk")).agg(F.count(F.lit(1)).alias("n_supp"))
    return cn.join(sn, cn.nk == sn.nk, "full").select(
        F.coalesce(cn.nk, sn.nk).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    big = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_cross",
    oracle="""
    SELECT r_name, s.o_orderstatus AS orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = table(spark, sf_dir, "region")
    statuses = table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("orderstatus")
    ).distinct()
    return region.crossJoin(statuses).select("r_name", "orderstatus")


@register(
    "join_theta_quantity_vs_size",
    oracle="""
    SELECT p_partkey, p_brand,
           count(*) AS n_overweight,
           (floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0) AS total_qty
    FROM part JOIN lineitem
      ON p_partkey = l_partkey AND l_quantity > p_size
    WHERE p_size < 5
    GROUP BY p_partkey, p_brand
    """,
)
def join_theta_quantity_vs_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    # equi key + theta residual: Catalyst plans the equi part as the join
    # key and evaluates the inequality as a post-join predicate.
    part = table(spark, sf_dir, "part").where(F.col("p_size") < 5)
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(
            part,  # fact-scale even after the selective filter: AQE decides
            (li.l_partkey == part.p_partkey) & (li.l_quantity > part.p_size),
        )
        .groupBy("p_partkey", "p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_overweight"),
            hround(F.sum("l_quantity")).alias("total_qty"),
        )
    )


# --------------------------------------------------------------------------
# Aggregations (§2.12): stats, distinct agg, rollup / cube / grouping sets
# --------------------------------------------------------------------------
@register(
    "agg_stats_by_status",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           (floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0) AS sum_price,
           (floor((avg(o_totalprice)) * 100.0 + 0.5) / 100.0) AS avg_price,
           (floor((min(o_totalprice)) * 100.0 + 0.5) / 100.0) AS min_price,
           (floor((max(o_totalprice)) * 100.0 + 0.5) / 100.0) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_stats_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            hround(F.sum("o_totalprice")).alias("sum_price"),
            hround(F.avg("o_totalprice")).alias("avg_price"),
            hround(F.min("o_totalprice")).alias("min_price"),
            hround(F.max("o_totalprice")).alias("max_price"),
        )
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register("agg_approx_count_distinct")  # approximate: no exact SQL oracle
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB path where exact
    countDistinct would need a full shuffle of the key set."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "agg_rollup_region_nation",
    oracle="""
    SELECT r_name, n_name,
           count(*) AS n_customers,
           (floor((sum(c_acctbal)) * 100.0 + 0.5) / 100.0) AS total_balance
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        hround(F.sum("c_acctbal")).alias("total_balance"),
    )


@register(
    "agg_cube_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows, (floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            hround(F.sum("l_quantity")).alias("sum_qty"),
        )
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("agg_grouping_sets_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM agg_grouping_sets_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --------------------------------------------------------------------------
# Sorts / limit / distinct (§2.12)
# --------------------------------------------------------------------------
@register(
    "sort_limit_topk",
    oracle="""
    SELECT o_orderkey, (floor((o_totalprice) * 100.0 + 0.5) / 100.0) AS totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # orderBy+limit compiles to TakeOrderedAndProject: per-partition top-k
    # then a k-row merge on the driver — no global sort at 100 TB.
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            hround("o_totalprice").alias("totalprice"),
            "o_orderpriority",
            "o_totalprice",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(15)
        .drop("o_totalprice")
    )


@register(
    "distinct_projection",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()
