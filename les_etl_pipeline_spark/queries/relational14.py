"""Fourteenth relational pack: recursive CTEs and LATERAL subqueries —
the two SQL-surface families Spark gained in 4.x, exercised through
``spark.sql`` so the engine's SQL face (not just the DataFrame API) is
driver-graded.

Reference parity: the reference has no SQL query surface at all
(SURVEY.md §2.5); these belong to the §2.12 gap families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import table


from .registry import register


@register(
    "recursive_cte_chain_walk",
    oracle="""
    WITH RECURSIVE walk AS (
      SELECT c_custkey AS start_key, c_custkey AS cur, 0 AS depth
      FROM customer WHERE c_custkey < 400
      UNION ALL
      SELECT start_key, cur // 10 AS cur, depth + 1 AS depth
      FROM walk WHERE cur > 0
    )
    SELECT start_key,
           CAST(max(depth) AS INT) AS chain_len,
           CAST(min(CASE WHEN cur > 0 THEN cur END) AS BIGINT) AS top_ancestor
    FROM walk GROUP BY start_key ORDER BY start_key
    """,
)
def recursive_cte_chain_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy walk via native WITH RECURSIVE (Spark 4.x): every
    customer climbs a synthetic parent chain (parent = custkey // 10 —
    a deterministic ~5-level tree, the org-chart/category-tree shape)
    up to the root, reporting chain length and the top non-root
    ancestor. Termination is structural: cur strictly shrinks to 0.

    Execution-wise each recursion step is one self-referencing scan of
    the previous frontier — Spark materializes per-step frontiers
    exactly like the unrolled iterative joins in operators/graph.py, but
    declared in SQL. The frontier shrinks monotonically (rows stop
    recursing at the root), so depth-d work is bounded by the level-d
    population — the same bounded-frontier posture as connected
    components. Integer division is `//` (DuckDB) vs DIV (Spark SQL) —
    same floor-division semantics on positive keys."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("recursive_cte_chain_walk_customer")
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
          SELECT c_custkey AS start_key, c_custkey AS cur, 0 AS depth
          FROM recursive_cte_chain_walk_customer WHERE c_custkey < 400
          UNION ALL
          SELECT start_key, cur DIV 10 AS cur, depth + 1 AS depth
          FROM walk WHERE cur > 0
        )
        SELECT start_key,
               CAST(max(depth) AS INT) AS chain_len,
               CAST(min(CASE WHEN cur > 0 THEN cur END) AS BIGINT) AS top_ancestor
        FROM walk GROUP BY start_key ORDER BY start_key
        """
    )


@register(
    "lateral_topk_per_nation",
    oracle="""
    SELECT n.n_name AS nation,
           l.c_custkey AS custkey,
           (floor(l.c_acctbal * 100.0 + 0.5) / 100.0) AS acctbal
    FROM nation n,
    LATERAL (SELECT c_custkey, c_acctbal
             FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 3) l
    ORDER BY nation, acctbal DESC, custkey
    """,
)
def lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with LIMIT — top-3 customers by
    balance per nation, the canonical lateral top-k. Same result as the
    window row_number form (window_topk_per_group), but exercised
    through the SQL LATERAL join path: Catalyst decorrelates the
    per-row subquery into a ranked join rather than executing it N
    times — declare the correlation, let the optimizer pick the
    physical strategy. The money column goes through the portable
    floor-rounding formula (functions/rounding.py), never bare round().
    """
    table(spark, sf_dir, "nation").createOrReplaceTempView("lateral_topk_per_nation_nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView("lateral_topk_per_nation_customer")
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               l.c_custkey AS custkey,
               (floor(l.c_acctbal * 100.0D + 0.5D) / 100.0D) AS acctbal
        FROM lateral_topk_per_nation_nation n,
        LATERAL (SELECT c_custkey, c_acctbal
                 FROM lateral_topk_per_nation_customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey LIMIT 3) l
        ORDER BY nation, acctbal DESC, custkey
        """
    )


@register(
    "agg_group_by_all",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           (floor(sum(l_quantity) * 100.0 + 0.5) / 100.0) AS sum_qty
    FROM lineitem
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def agg_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL — the DuckDB-originated dialect sugar
    Spark 4 adopted: grouping keys inferred as every non-aggregate
    select item, ordering as the full select list. Same physical plan
    as the explicit form (one partial+final hash aggregate); what's
    under test is dialect parity between the two engines' inference
    rules, which must pick identical key sets for the hashes to match.
    """
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("agg_group_by_all_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               (floor(sum(l_quantity) * 100.0D + 0.5D) / 100.0D) AS sum_qty
        FROM agg_group_by_all_lineitem
        GROUP BY ALL
        ORDER BY ALL
        """
    )
