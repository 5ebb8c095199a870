"""Relational coverage batch 3: more TPC-H-shaped analytics (q14 promo
share, q18 large orders), CTEs, map functions, and the
native form of a grouped z-score (whose applyInPandas twin lives in
operators/grouped.py with an equivalence test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table, register_views
from ..functions.rounding import hround
from .registry import register


@register(
    "q14_promo_share",
    oracle="""
    SELECT (floor((100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                    THEN l_extendedprice * (1 - l_discount)
                                    ELSE 0 END)
                   / sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5) / 10000.0)
           AS promo_share_pct,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    part = table(spark, sf_dir, "part")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            hround(
                100.0
                * F.sum(F.when(F.col("p_type").like("PROMO%"), net).otherwise(0.0))
                / F.sum(net),
                4,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q18_large_orders",
    oracle="""
    SELECT c_custkey, o_orderkey,
           (floor((o_totalprice) * 100.0 + 0.5) / 100.0) AS totalprice,
           (floor((total_qty) * 100.0 + 0.5) / 100.0) AS total_qty
    FROM (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 210
    ) big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty_raw"))
        .where(F.col("total_qty_raw") > 210)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            hround("o_totalprice").alias("totalprice"),
            hround("total_qty_raw").alias("total_qty"),
        )
    )


@register(
    "cte_nation_revenue_rank",
    oracle="""
    WITH nat_rev AS (
      SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS rev
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name,
           (floor((rev) * 100.0 + 0.5) / 100.0) AS revenue,
           CAST(rank() OVER (ORDER BY rev DESC, n_name) AS INT) AS rev_rank
    FROM nat_rev
    """,
)
def cte_nation_revenue_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem", "supplier", "nation"))
    return spark.sql(
        """
        WITH nat_rev AS (
          SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS rev
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          GROUP BY n_name
        )
        SELECT n_name,
               CAST(floor(rev * 100.0D + 0.5D) / 100.0D AS DOUBLE) AS revenue,
               rank() OVER (ORDER BY rev DESC, n_name) AS rev_rank
        FROM nat_rev
        """
    )


@register(
    "map_ops_events",
    oracle="""
    SELECT event_type,
           array_to_string(list_sort(list_distinct(list_apply(
             map_entries(MAP {'type': event_type, 'bucket':
                          CASE WHEN value >= 3 THEN 'high' ELSE 'low' END}),
             x -> x.key || '=' || x.value))), ';') AS tags,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def map_ops_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType construction + entry access, serialized to a sorted
    'k=v;k=v' string so both engines hash identical values."""
    ev = table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"),
        F.col("event_type"),
        F.lit("bucket"),
        F.when(F.col("value") >= 3, "high").otherwise("low"),
    )
    tags = F.array_join(
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.map_entries(m), lambda e: F.concat_ws("=", e["key"], e["value"])
                )
            )
        ),
        ";",
    )
    return (
        ev.select("event_type", tags.alias("tags"))
        .groupBy("event_type", "tags")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "grouped_zscore_native",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           (floor(((o_totalprice - avg(o_totalprice) OVER w)
                   / stddev_samp(o_totalprice) OVER w) * 10000.0 + 0.5) / 10000.0) AS zscore
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus)
    """,
)
def grouped_zscore_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score via window functions (JVM path). The pandas
    grouped-map twin (operators/grouped.zscore_grouped_pandas) computes
    the same values through applyInPandas — equivalence is pinned in
    tests/test_grouped.py; this native form is what belongs in a 100 TB
    plan (no Python worker in the hot path)."""
    w = W.partitionBy("o_orderstatus")
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        hround(
            (F.col("o_totalprice") - F.avg("o_totalprice").over(w))
            / F.stddev_samp("o_totalprice").over(w),
            4,
        ).alias("zscore"),
    )
