"""Tenth relational pack: incremental-maintenance and data-quality
operators — the operational layer a 100 TB warehouse runs nightly.

- ``agg_incremental_merge``: mergeable partial aggregates (incremental
  materialized-view maintenance). Batches are aggregated independently
  and their STATES merged; the oracle is the from-scratch aggregate over
  everything, so the hash-match IS the proof that merge(partials) ==
  full recompute — the invariant that lets a daily pipeline fold one
  day's partial into a running state instead of rescanning history.
- ``qc_referential_integrity``: FK orphan audit via LEFT JOIN +
  conditional counts — one shuffle per FK, total rows and orphan rows
  from the same pass (no anti-join + second count).
- ``profile_table_columns``: one-pass multi-column profiling (nulls,
  exact distincts, numeric min/max) reshaped wide->long with inline().
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.rounding import hround
from .registry import register


@register(
    "agg_incremental_merge",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           (floor(sum(l_quantity) * 100.0 + 0.5) / 100.0) AS sum_qty,
           CAST(min(l_quantity) AS DOUBLE) AS min_qty,
           CAST(max(l_quantity) AS DOUBLE) AS max_qty,
           (floor((sum(l_quantity) / count(*)) * 1000000.0 + 0.5)
            / 1000000.0) AS avg_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the table arrives as two
    disjoint 'batches' (split on l_orderkey parity, standing in for
    yesterday's running state + today's delta), each batch is reduced to
    mergeable per-group STATES (count, sum, min, max), and the states
    are merged — count/sum add, min/max fold, avg derives at the end
    (avg itself is NOT mergeable; its state is (sum, n)). The oracle
    aggregates everything from scratch, so the hash-match proves
    merge(partial_states) == full recompute. At 100 TB this is the
    difference between folding one day's partial into a running state
    and rescanning the full history nightly. l_quantity is
    integral-valued, so double sums are exact in any association
    order."""
    li = table(spark, sf_dir, "lineitem")

    def partial(batch: DataFrame) -> DataFrame:
        return batch.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("l_quantity").alias("ps"),
            F.min("l_quantity").alias("pmin"),
            F.max("l_quantity").alias("pmax"),
        )

    b1 = partial(li.where(F.col("l_orderkey") % 2 == 0))
    b2 = partial(li.where(F.col("l_orderkey") % 2 == 1))
    merged = (
        b1.unionAll(b2)
        .groupBy("l_returnflag")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("ps").alias("s"),
            F.min("pmin").alias("min_qty"),
            F.max("pmax").alias("max_qty"),
        )
    )
    return merged.select(
        "l_returnflag",
        "n",
        hround("s").alias("sum_qty"),
        F.col("min_qty").cast("double"),
        F.col("max_qty").cast("double"),
        hround(F.col("s") / F.col("n"), 6).alias("avg_qty"),
    ).orderBy("l_returnflag")


@register(
    "qc_referential_integrity",
    oracle="""
    SELECT 'events_customer' AS fk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (c_custkey IS NULL) AS BIGINT) AS n_orphans
    FROM events LEFT JOIN customer ON user_id = c_custkey
    UNION ALL
    SELECT 'lineitem_orders',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (o_orderkey IS NULL) AS BIGINT)
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'orders_customer',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (c_custkey IS NULL) AS BIGINT)
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    ORDER BY fk
    """,
)
def qc_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit (the Deequ/dbt-test 'relationships'
    check): each FK edge is ONE left outer join whose probe side keeps
    only the key column, with total and orphan counts taken from the
    same pass via count_if — never an anti-join followed by a second
    scan for the denominator. Dimension keys are unique so the join
    never fans out; at 100 TB each edge is a single key-shuffle (or a
    broadcast when the dimension is small — left to AQE here)."""

    def audit(fact: DataFrame, fk: str, dim: DataFrame, pk: str, name: str) -> DataFrame:
        return (
            fact.join(dim.select(pk), F.col(fk) == F.col(pk), "left")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_if(F.col(pk).isNull()).alias("n_orphans"),
            )
            .select(F.lit(name).alias("fk"), "n_rows", "n_orphans")
        )

    ev = table(spark, sf_dir, "events")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        audit(ev, "user_id", c, "c_custkey", "events_customer")
        .unionAll(audit(li, "l_orderkey", o, "o_orderkey", "lineitem_orders"))
        .unionAll(audit(o, "o_custkey", c, "c_custkey", "orders_customer"))
        .orderBy("fk")
    )


@register(
    "profile_table_columns",
    oracle="""
    WITH a AS (
      SELECT count(*) AS n_rows,
             count(*) FILTER (o_custkey IS NULL)     AS nn_custkey,
             count(DISTINCT o_custkey)               AS nd_custkey,
             count(*) FILTER (o_totalprice IS NULL)  AS nn_price,
             count(DISTINCT o_totalprice)            AS nd_price,
             count(*) FILTER (o_orderstatus IS NULL) AS nn_status,
             count(DISTINCT o_orderstatus)           AS nd_status,
             CAST(min(o_custkey) AS DOUBLE)    AS min_custkey,
             CAST(max(o_custkey) AS DOUBLE)    AS max_custkey,
             CAST(min(o_totalprice) AS DOUBLE) AS min_price,
             CAST(max(o_totalprice) AS DOUBLE) AS max_price
      FROM orders
    )
    SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_nulls AS BIGINT) AS n_nulls,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           (floor(min_num * 100.0 + 0.5) / 100.0) AS min_num,
           (floor(max_num * 100.0 + 0.5) / 100.0) AS max_num
    FROM (
      SELECT 'o_custkey' AS col_name, n_rows, nn_custkey AS n_nulls,
             nd_custkey AS n_distinct, min_custkey AS min_num,
             max_custkey AS max_num FROM a
      UNION ALL
      SELECT 'o_totalprice', n_rows, nn_price, nd_price, min_price, max_price
      FROM a
      UNION ALL
      SELECT 'o_orderstatus', n_rows, nn_status, nd_status, NULL, NULL FROM a
    ) ORDER BY col_name
    """,
)
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (the data-catalog stats sweep): null
    counts, exact distinct counts, and numeric min/max for several
    columns computed in a SINGLE aggregate over the table, then reshaped
    wide->long with inline() — the 1-row-to-N reshape is free. Exact
    multi-column count_distinct expands the aggregate (one Expand branch
    per distinct column); at 100 TB swap count_distinct for
    approx_count_distinct (or the mergeable HLL sketches of
    agg_hll_sketch_union) and the pass becomes single-Expand — the
    docstring trade the reference's profiling DAG makes too."""
    o = table(spark, sf_dir, "orders")
    a = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_custkey").isNull()).alias("nn_custkey"),
        F.count_distinct("o_custkey").alias("nd_custkey"),
        F.count_if(F.col("o_totalprice").isNull()).alias("nn_price"),
        F.count_distinct("o_totalprice").alias("nd_price"),
        F.count_if(F.col("o_orderstatus").isNull()).alias("nn_status"),
        F.count_distinct("o_orderstatus").alias("nd_status"),
        F.min("o_custkey").cast("double").alias("min_custkey"),
        F.max("o_custkey").cast("double").alias("max_custkey"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
    )
    null_d = F.lit(None).cast("double")
    long = a.select(
        F.inline(
            F.array(
                F.struct(
                    F.lit("o_custkey").alias("col_name"),
                    F.col("n_rows"),
                    F.col("nn_custkey").alias("n_nulls"),
                    F.col("nd_custkey").alias("n_distinct"),
                    F.col("min_custkey").alias("min_num"),
                    F.col("max_custkey").alias("max_num"),
                ),
                F.struct(
                    F.lit("o_totalprice").alias("col_name"),
                    F.col("n_rows"),
                    F.col("nn_price").alias("n_nulls"),
                    F.col("nd_price").alias("n_distinct"),
                    F.col("min_price").alias("min_num"),
                    F.col("max_price").alias("max_num"),
                ),
                F.struct(
                    F.lit("o_orderstatus").alias("col_name"),
                    F.col("n_rows"),
                    F.col("nn_status").alias("n_nulls"),
                    F.col("nd_status").alias("n_distinct"),
                    null_d.alias("min_num"),
                    null_d.alias("max_num"),
                ),
            )
        )
    )
    return long.select(
        "col_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        hround("min_num").alias("min_num"),
        hround("max_num").alias("max_num"),
    ).orderBy("col_name")


@register(
    "asof_join_cogroup",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'view' THEN ts END AS view_ts
      FROM events WHERE event_type IN ('view', 'purchase')
    ), filled AS (
      SELECT user_id, ts, event_id, event_type,
             max(view_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS last_view_ts
      FROM tagged
    )
    SELECT event_id AS purchase_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(last_view_ts, '%Y-%m-%d %H:%M:%S') AS prior_view_ts
    FROM filled WHERE event_type = 'purchase'
    ORDER BY purchase_id
    """,
)
def asof_join_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join through the COGROUP grouped-map surface
    (operators/grouped.cogroup_asof_pandas): purchases and views shuffle
    once on user_id and meet as per-key pandas frames; a merged sort +
    forward-fill reproduces the union+window running max exactly, and
    the oracle is the SAME SQL as asof_join_union_window — pinning the
    cogroup path and the native path to identical semantics. The native
    form stays the 100 TB default (no Python workers); cogroup is the
    escape hatch for per-key logic windows can't express."""
    from ..operators.grouped import cogroup_asof_pandas

    ev = table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    views = ev.where(F.col("event_type") == "view")
    out = cogroup_asof_pandas(purchases, views, "user_id")
    return out.select(
        F.col("left_id").alias("purchase_id"),
        F.date_format("left_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("match_ts", "yyyy-MM-dd HH:mm:ss").alias("prior_view_ts"),
    ).orderBy("purchase_id")


@register(
    "stat_correlation_matrix",
    oracle="""
    WITH a AS (
      SELECT corr(l_quantity, l_extendedprice) AS qp,
             corr(l_quantity, l_discount)      AS qd,
             corr(l_extendedprice, l_discount) AS pd
      FROM lineitem
    )
    SELECT col_x, col_y,
           (floor(r * 1000000.0 + 0.5) / 1000000.0) AS corr_r
    FROM (
      SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, qp AS r FROM a
      UNION ALL
      SELECT 'l_quantity', 'l_discount', qd FROM a
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount', pd FROM a
    ) ORDER BY col_x, col_y
    """,
)
def stat_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations for a numeric column set in ONE
    aggregate pass (the profiling/feature-selection sweep), reshaped to
    (col_x, col_y, r) rows via inline — the same one-pass + free-reshape
    structure as profile_table_columns. corr is a mergeable state
    (count, means, co-moments), so the pass stays map-side combinable;
    n_cols^2/2 pairs is a width, not a data, cost. hround(6) absorbs
    cross-engine co-moment accumulation order."""
    li = table(spark, sf_dir, "lineitem")
    a = li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("qp"),
        F.corr("l_quantity", "l_discount").alias("qd"),
        F.corr("l_extendedprice", "l_discount").alias("pd"),
    )
    long = a.select(
        F.inline(
            F.array(
                F.struct(
                    F.lit("l_quantity").alias("col_x"),
                    F.lit("l_extendedprice").alias("col_y"),
                    F.col("qp").alias("r"),
                ),
                F.struct(
                    F.lit("l_quantity").alias("col_x"),
                    F.lit("l_discount").alias("col_y"),
                    F.col("qd").alias("r"),
                ),
                F.struct(
                    F.lit("l_extendedprice").alias("col_x"),
                    F.lit("l_discount").alias("col_y"),
                    F.col("pd").alias("r"),
                ),
            )
        )
    )
    return long.select("col_x", "col_y", hround("r", 6).alias("corr_r")).orderBy(
        "col_x", "col_y"
    )


@register(
    "events_rollup_cascade",
    oracle="""
    SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchases,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days
    FROM events GROUP BY month ORDER BY month
    """,
)
def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup pyramid (the hypertable/continuous-aggregate
    pattern): hourly partials roll into daily, daily into monthly — each
    level aggregates the level below, never the raw events, and the
    oracle aggregates raw events directly, so the hash-match proves the
    cascade is lossless. At 100 TB the hourly layer is the only
    event-scale shuffle; day and month levels run on partial-state rows
    (24/day, ~30/month) — the same merge-don't-rescan invariant as
    agg_incremental_merge, applied up a calendar hierarchy. Distinct-day
    counting rides the hierarchy for free (days are exact units of the
    day level)."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("event_type") == "purchase").alias("np"),
    )
    daily = hourly.groupBy(F.to_date("hour").alias("day")).agg(
        F.sum("n").alias("n"), F.sum("np").alias("np")
    )
    monthly = daily.groupBy(F.date_format("day", "yyyy-MM").alias("month")).agg(
        F.sum("n").alias("n_events"),
        F.sum("np").alias("n_purchases"),
        F.count(F.lit(1)).alias("n_active_days"),
    )
    return monthly.orderBy("month")


@register(
    "agg_pandas_udaf_geomean",
    oracle="""
    SELECT l_returnflag,
           (floor(exp(avg(ln(l_extendedprice))) * 100.0 + 0.5) / 100.0)
             AS geomean_price,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_pandas_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined AGGREGATE function via a GROUPED_AGG pandas_udf
    (Series -> scalar, Arrow-batched): per-flag geometric mean of the
    price. This is the UDAF API surface — the escape hatch for aggregate
    math Spark lacks (exotic robust estimators, model updates); for the
    geometric mean itself the native exp(avg(ln)) is the 100 TB form
    (map-side combinable; a grouped-agg pandas UDF ships each group's
    FULL value series to one Python worker — no partial aggregation), so
    the oracle doubles as the native twin pinning the UDAF's result.
    np.log sums in one pass per group; hround(2) absorbs the
    accumulation-order difference vs the oracle's streaming avg."""

    @F.pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v.to_numpy()).mean()))

    # grouped-agg pandas UDFs cannot mix with native aggregates in one
    # agg() (INVALID_PANDAS_UDF_PLACEMENT) — the count rides as a second
    # pandas aggregate over the same series
    @F.pandas_udf("long")
    def n_vals(v: pd.Series) -> int:
        return int(len(v))

    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            hround(geomean("l_extendedprice")).alias("geomean_price"),
            n_vals("l_extendedprice").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "scd2_point_in_time_join",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, 'v1' AS version, upper(c_mktsegment) AS segment,
             TIMESTAMP '1992-01-01' AS valid_from,
             TIMESTAMP '1995-06-01' AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, 'v2', lower(c_mktsegment),
             TIMESTAMP '1995-06-01', TIMESTAMP '9999-12-31'
      FROM customer
    )
    SELECT o_orderkey, c_custkey, version, segment
    FROM orders JOIN dim
      ON o_custkey = c_custkey
     AND o_orderdate >= valid_from AND o_orderdate < valid_to
    WHERE o_orderkey <= 5000
    ORDER BY o_orderkey
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal validity) join — the consumer side of the
    SCD2 machinery: each fact joins the dimension VERSION that was valid
    at the fact's timestamp, `ON key AND ts >= valid_from AND ts <
    valid_to`. The scale shape: this is an EQUI-join on the business key
    with the validity window as a residual filter — versions per key are
    few (SCD2 history depth), so the fan-out is bounded by history depth
    and the plan is a plain key-shuffle (or broadcast when the dimension
    fits), never an interval nested-loop. The versioned dimension is
    built deterministically from customer (two versions split at
    1995-06-01) so both engines construct identical history."""
    c = table(spark, sf_dir, "customer")
    v1 = c.select(
        "c_custkey",
        F.lit("v1").alias("version"),
        F.upper("c_mktsegment").alias("segment"),
        F.lit("1992-01-01").cast("timestamp_ntz").alias("valid_from"),
        F.lit("1995-06-01").cast("timestamp_ntz").alias("valid_to"),
    )
    v2 = c.select(
        "c_custkey",
        F.lit("v2").alias("version"),
        F.lower("c_mktsegment").alias("segment"),
        F.lit("1995-06-01").cast("timestamp_ntz").alias("valid_from"),
        F.lit("9999-12-31").cast("timestamp_ntz").alias("valid_to"),
    )
    dim = v1.unionAll(v2)
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 5000)
    return (
        o.join(
            dim,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderdate") >= F.col("valid_from"))
            & (F.col("o_orderdate") < F.col("valid_to")),
        )
        .select("o_orderkey", "c_custkey", "version", "segment")
        .orderBy("o_orderkey")
    )


@register(
    "agg_robust_mad",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, median(l_quantity) AS med_qty
      FROM lineitem GROUP BY l_returnflag
    ), dev AS (
      SELECT l.l_returnflag, abs(l_quantity - med_qty) AS adev,
             l_quantity, med_qty
      FROM lineitem l JOIN med USING (l_returnflag)
    )
    SELECT l_returnflag,
           (floor(any_value(med_qty) * 100.0 + 0.5) / 100.0) AS med_qty,
           (floor(median(adev) * 100.0 + 0.5) / 100.0) AS mad_qty,
           CAST(count(*) FILTER (adev > 3 * 1.4826 * 14.0) AS BIGINT)
             AS n_outliers
    FROM dev GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per group: median + median-absolute-deviation
    (MAD) and an outlier count at the 3-sigma-equivalent MAD fence
    (1.4826*MAD ~ sigma for normal data; the fence radius is pinned to a
    constant so both engines count identical rows — a fence derived from
    the group's own MAD would be the production form). Two grouped
    exact-percentile passes joined back on the group key: medians don't
    partial-aggregate, so each pass shuffles the full column — the
    approx twin (percentile_approx, mergeable) is the 100 TB default and
    this exact form is the auditor. Exact interpolated medians match
    across engines (both interpolate at even counts)."""
    li = table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(F.median("l_quantity").alias("med_qty"))
    dev = li.join(med, "l_returnflag").withColumn(
        "adev", F.abs(F.col("l_quantity") - F.col("med_qty"))
    )
    return (
        dev.groupBy("l_returnflag")
        .agg(
            hround(F.any_value("med_qty")).alias("med_qty"),
            hround(F.median("adev")).alias("mad_qty"),
            F.count_if(F.col("adev") > 3 * 1.4826 * 14.0).alias("n_outliers"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_try_sum_avg",
    oracle="""
    SELECT l_returnflag,
           (floor(sum(l_extendedprice) * 100.0 + 0.5) / 100.0) AS sum_price,
           (floor(avg(l_extendedprice) * 1000000.0 + 0.5) / 1000000.0)
             AS avg_price,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty_long
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_try_sum_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe aggregates: try_sum / try_avg return NULL on overflow
    instead of failing the job — under Spark 4's ANSI default, plain
    sum() over longs THROWS on overflow, so a 100 TB aggregation over
    untrusted magnitudes wants the try_ forms (one poisoned group yields
    a null, not a dead job; the overflow->null behavior itself is pinned
    in tests/test_round5_ops.py, since an overflowing oracle can't be
    portable). On non-overflowing data they equal the plain aggregates,
    which is what the oracle checks."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            hround(F.try_sum("l_extendedprice")).alias("sum_price"),
            hround(F.try_avg("l_extendedprice"), 6).alias("avg_price"),
            F.try_sum(F.col("l_quantity").cast("long")).alias("sum_qty_long"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "scalar_regexp_count_substr",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\\bthe\\b')) AS INT) AS n_the,
           CAST(len(regexp_extract_all(text, '[a-z]+a[a-z]*')) AS INT) AS n_a_words,
           nullif(regexp_extract(text, 'q[a-z]+'), '') AS first_q_word,
           nullif(regexp_extract(text, '[a-z]*join[a-z]*'), '') AS first_join_word
    FROM documents WHERE doc_id <= 800 ORDER BY doc_id
    """,
)
def scalar_regexp_count_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 3.4/3.5 regexp additions: regexp_count (match count
    without materializing the match array) and regexp_substr (first
    match, NULL when absent — the oracle wraps DuckDB's empty-string
    no-match convention in nullif). Pure codegen projections; the
    corpus-analysis face is counting stopword/pattern hits without an
    explode."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") <= 800)
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(r"\bthe\b")).alias("n_the"),
        F.regexp_count("text", F.lit(r"[a-z]+a[a-z]*")).alias("n_a_words"),
        F.regexp_substr("text", F.lit(r"q[a-z]+")).alias("first_q_word"),
        F.regexp_substr("text", F.lit(r"[a-z]*join[a-z]*")).alias("first_join_word"),
    ).orderBy("doc_id")


@register(
    "agg_listagg_ordered",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities,
           string_agg(DISTINCT CAST(o_custkey % 5 AS VARCHAR), '|'
                      ORDER BY CAST(o_custkey % 5 AS VARCHAR)) AS cohorts
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — SQL:2016 LISTAGG ... WITHIN GROUP
    (Spark 4): DISTINCT values concatenated in an explicit order, the
    deterministic form (bare listagg concatenates in partition-arrival
    order — nondeterministic under parallelism, the same trap as bare
    collect_list). The second column uses the array-native twin
    (array_join over a sorted collect_set) deliberately: TWO
    listagg-DISTINCT aggregates over different columns in one GROUP BY
    throw a ClassCastException in Spark 4.1 (AttributeReference vs
    SortOrder in the distinct rewrite — reproduced and pinned here), and
    the native form is the drop-in workaround with identical output."""
    o = table(spark, sf_dir, "orders").withColumn(
        "cohort", (F.col("o_custkey") % 5).cast("string")
    )
    o.createOrReplaceTempView("agg_listagg_ordered_orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               listagg(DISTINCT o_orderpriority, ',')
                 WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
               array_join(array_sort(collect_set(cohort)), '|') AS cohorts
        FROM agg_listagg_ordered_orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """
    )
