"""Reference-semantics operators expressed as verifiable queries over the
test warehouse: cast engine, validation split, SCD2 current-snapshot,
vertical partitioning + dedup (SURVEY.md §2.6, §2.8, §2.9, P5/P6/P9/D1).

The real pipeline operators live in ``les_etl_pipeline_spark.operators``
and are unit-tested against EDW-style fixtures; these queries exercise the
same column-expression compilers on the driver's tables so the DuckDB
oracle can check them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.validation import compile_rules
from ..functions.rounding import hround
from .registry import register


@register(
    "etl_cast_engine",
    oracle="""
    SELECT q AS raw_qty, f AS raw_flag, d AS raw_date, i AS raw_count,
           round(TRY_CAST(q AS DOUBLE), 2) AS qty_num,
           coalesce(f = 'y', FALSE) AS flag_bool,
           TRY_CAST(d AS DATE) AS d_date,
           CASE WHEN regexp_matches(i, '^-?[0-9]+$')
                THEN TRY_CAST(i AS INT) ELSE NULL END AS count_int
    FROM (VALUES ('7.256', 'y', '2023-06-30', '42'),
                 ('18000.504', 'n', '2024-02-29', '0'),
                 ('xx', NULL, 'not-a-date', 'xx'),
                 ('-3.125', 'Y', '2030-12-31', '-7')) t(q, f, d, i)
    """,
)
def etl_cast_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F7-F10 cast engine (silver_funcs.py:15-34) via the real
    operators.cast_engine compiler: y/n->bool with null->False (F7), 2dp
    double round (F9), date parse (F8), int cast with garbage->NULL (F10).
    The oracle encodes the same legacy semantics (coalesce for null->False,
    regexp guard because Spark's non-ANSI string->int cast rejects
    decimals while DuckDB TRY_CAST rounds them)."""
    from pyspark.sql import types as T

    from ..operators.cast_engine import cast_to_datatype

    df = spark.createDataFrame(
        [
            ("7.256", "y", "2023-06-30", "42"),
            ("18000.504", "n", "2024-02-29", "0"),
            ("xx", None, "not-a-date", "xx"),
            ("-3.125", "Y", "2030-12-31", "-7"),
        ],
        ["raw_qty", "raw_flag", "raw_date", "raw_count"],
    )
    df = df.selectExpr(
        "raw_qty", "raw_flag", "raw_date", "raw_count",
        "raw_qty AS qty_num", "raw_flag AS flag_bool",
        "raw_date AS d_date", "raw_count AS count_int",
    )
    return cast_to_datatype(
        df,
        {
            "qty_num": T.DoubleType(),
            "flag_bool": T.BooleanType(),
            "d_date": T.DateType(),
            "count_int": T.IntegerType(),
        },
    )


@register(
    "etl_validation_split",
    oracle="""
    SELECT
      count(*) AS n_rows,
      CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
      CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_bad
    FROM (
      SELECT (l_quantity IS NOT NULL AND l_quantity BETWEEN 1 AND 45)
             AND (l_discount IS NOT NULL AND l_discount BETWEEN 0 AND 0.08)
             AND (l_returnflag IN ('A', 'N', 'R'))
             AND (l_shipdate IS NOT NULL AND
                  l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '2000-12-31')
             AS ok
      FROM lineitem
    )
    """,
)
def etl_validation_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.8 validation engine: a declarative rule dict compiled to
    native Column predicates (no Python row loop), counting the good/bad
    split the reference materializes as clean/dirty dumps."""
    rules = {
        "l_quantity": {"type": "number", "nullable": False, "min": 1, "max": 45},
        "l_discount": {"type": "number", "nullable": False, "min": 0, "max": 0.08},
        "l_returnflag": {"allowed": ["A", "N", "R"]},
        "l_shipdate": {
            "type": "datetime",
            "nullable": False,
            "min": "1995-01-01",
            "max": "2000-12-31",
        },
    }
    li = table(spark, sf_dir, "lineitem")
    flag, _errors = compile_rules(rules, strict_columns=False, df_schema=li.schema)
    return li.select(flag.alias("ok")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_good"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_bad"),
    )


@register(
    "etl_scd2_current_snapshot",
    oracle="""
    SELECT o_custkey, o_orderkey AS latest_orderkey,
           CAST(o_orderdate AS DATE) AS latest_orderdate,
           (floor((o_totalprice) * 100.0 + 0.5) / 100.0) AS latest_totalprice
    FROM (
      SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def etl_scd2_current_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 'current record per key' semantics (SURVEY.md §2.9): latest
    version wins; the batch equivalent of iscurrent=1 selection
    (generate_asset_silver.py:81)."""
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_orderdate").cast("date").alias("latest_orderdate"),
            hround("o_totalprice").alias("latest_totalprice"),
        )
    )


@register(
    "etl_vertical_partition_dedup",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, l_shipmode FROM (
      SELECT l_returnflag, l_linestatus, 'N/A' AS l_shipmode FROM lineitem
    )
    """,
)
def etl_vertical_partition_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertical partitioning P5 + D1 dedup (generate_asset_silver.py:99-116):
    select a topic column subset then dropDuplicates — many source rows
    collapse to one topic row."""
    li = table(spark, sf_dir, "lineitem").withColumn("l_shipmode", F.lit("N/A"))
    return li.select("l_returnflag", "l_linestatus", "l_shipmode").dropDuplicates()


@register(
    "etl_allnull_row_drop",
    oracle="""
    SELECT o_orderkey, p1, p2 FROM (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END AS p1,
             CASE WHEN o_totalprice < 250000 THEN NULL
                  ELSE (floor((o_totalprice) * 100.0 + 0.5) / 100.0) END AS p2
      FROM orders
    ) WHERE p1 IS NOT NULL OR p2 IS NOT NULL
    """,
)
def etl_allnull_row_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: na.drop(how='all', subset=topic_cols)
    (generate_asset_silver.py:103-105)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("p1"),
        F.when(F.col("o_totalprice") < 250000, None)
        .otherwise(hround("o_totalprice"))
        .alias("p2"),
    )
    return o.na.drop(how="all", subset=["p1", "p2"])


@register(
    "etl_scd2_merge_upsert",
    oracle="""
    WITH b1 AS (
      SELECT o_orderkey AS k, o_totalprice AS val
      FROM orders WHERE o_orderkey <= 1000
    ), b2 AS (
      SELECT o_orderkey AS k,
             o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS val
      FROM orders WHERE o_orderkey <= 1200
    ), closed AS (
      SELECT b1.k, b1.val, 0 AS iscurrent
      FROM b1 JOIN b2 ON b1.k = b2.k AND b1.val <> b2.val
    ), kept AS (
      SELECT b1.k, b1.val, 1 AS iscurrent
      FROM b1 LEFT JOIN b2 ON b1.k = b2.k
      WHERE b2.k IS NULL OR b1.val = b2.val
    ), ins AS (
      SELECT b2.k, b2.val, 1 AS iscurrent
      FROM b2 LEFT JOIN b1 ON b1.k = b2.k
      WHERE b1.k IS NULL OR b1.val <> b2.val
    )
    SELECT k, val, CAST(iscurrent AS INT) AS iscurrent FROM (
      SELECT * FROM closed UNION ALL SELECT * FROM kept UNION ALL SELECT * FROM ins
    ) ORDER BY k, iscurrent
    """,
)
def etl_scd2_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge (§2.9) driver-graded: the semantics the reference's dead
    perform_scd2 never defined, run through the REAL operators (scd2_stamp
    checksum change detection + scd2_merge close-out/insert) on two
    deterministic batches built from orders. Batch 2 re-delivers batch 1
    with every third key's payload bumped plus 200 brand-new keys; the
    oracle rebuilds the expected end state declaratively (changed keys:
    closed old version + new current; unchanged: kept; new: inserted).
    Timestamp bookkeeping is excluded from the output (wall-clock);
    version state is carried by iscurrent, which is deterministic."""
    from ..operators.normalize import scd2_stamp
    from ..operators.scd2 import scd2_merge

    orders = table(spark, sf_dir, "orders")

    def batch(limit: int, bump_every_third: bool) -> DataFrame:
        bump = (
            F.when(F.col("o_orderkey") % 3 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
            if bump_every_third
            else F.lit(0.0)
        )
        return orders.where(F.col("o_orderkey") <= limit).select(
            F.lit("DEAL1").alias("ed_code"),
            F.lit("2024-01-01").alias("pcd"),
            F.col("o_orderkey").alias("k"),
            (F.col("o_totalprice") + bump).alias("val"),
        )

    old = scd2_stamp(batch(1000, False), ["k", "val"])  # checksum over key+payload
    new = scd2_stamp(batch(1200, True), ["k", "val"])
    merged = scd2_merge(old, new, primary_cols=["k"])
    return merged.select("k", "val", "iscurrent").orderBy("k", "iscurrent")


@register(
    "etl_quarantine_report",
    oracle="""
    WITH dirty AS (
      SELECT o_orderkey,
             o_orderstatus AS status,
             CASE WHEN o_orderkey % 7 = 0 THEN 'oops'
                  ELSE CAST(o_totalprice AS VARCHAR) END AS price,
             CASE WHEN o_orderkey % 11 = 0 THEN '2150-01-01'
                  ELSE strftime(o_orderdate, '%Y-%m-%d') END AS odate,
             CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE 'ok' END AS req
      FROM orders WHERE o_orderkey <= 3000
    ), counts AS (
      SELECT 'status.allowed' AS failed_check,
             count(*) FILTER (status NOT IN ('F', 'O')) AS n FROM dirty
      UNION ALL
      SELECT 'price.number', count(*) FILTER (TRY_CAST(price AS DOUBLE) IS NULL)
      FROM dirty
      UNION ALL
      SELECT 'odate.max', count(*) FILTER (TRY_CAST(odate AS DATE) > DATE '2100-12-31')
      FROM dirty
      UNION ALL
      SELECT 'req.required', count(*) FILTER (req IS NULL) FROM dirty
    )
    SELECT failed_check, CAST(n AS BIGINT) AS n_rows
    FROM counts WHERE n > 0 ORDER BY failed_check
    """,
)
def etl_quarantine_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine analytics (§2.8 downstream): run the rule compiler on a
    deterministically-dirtied batch, then aggregate the machine-readable
    qc_errors JSON of the bad rows into per-check failure counts — the
    report a data-quality dashboard reads off the dirty_dumps table. The
    JSON parse + explode is a projection; the count groupBy's domain is
    the rule set, not the data."""
    from ..operators.validation import profile_data, split_flagged

    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 3000)
    dirty = o.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("oops"))
        .otherwise(F.col("o_totalprice").cast("string"))
        .alias("price"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("2150-01-01"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
        .alias("odate"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None)).otherwise(F.lit("ok")).alias("req"),
    )
    rules = {
        "o_orderkey": {},
        "status": {"allowed": ["F", "O"]},
        "price": {"type": "number"},
        "odate": {"type": "datetime", "max": "2100-12-31"},
        "req": {"nullable": False},
    }
    _good, bad = split_flagged(profile_data(dirty, rules, strict_columns=True))
    failed = bad.select(
        F.explode(
            F.from_json("qc_errors", "struct<failed:array<string>>")["failed"]
        ).alias("failed_check")
    )
    return (
        failed.groupBy("failed_check")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(~F.col("failed_check").endswith(".min"))  # default min never fires here
        .orderBy("failed_check")
    )
