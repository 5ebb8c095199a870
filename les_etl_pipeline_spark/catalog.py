"""Table registry over the parquet test warehouse.

Loads the driver-generated tables (TESTDATA.md) as DataFrames with
normalized time types: every time column surfaces as TIMESTAMP_NTZ so the
engine and the DuckDB oracle see identical naive wall-clock values.

``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark cannot
read natively; this loader flips ``spark.sql.legacy.parquet.nanosAsLong``
around its own read (restoring the prior value) and converts
nanoseconds -> microsecond TIMESTAMP_NTZ (same truncation DuckDB applies).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: logical-plan cache: (applicationId, sf_dir, table) -> DataFrame.
#: spark.read.parquet re-runs file listing + footer schema inference on
#: every call (~50-100ms each); the returned DataFrame is an immutable
#: logical plan, so reusing it across queries is free and safe. Keyed by
#: applicationId so a stopped-and-restarted session never serves stale
#: plans from a dead JVM context.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one warehouse table with normalized column types.

    Works on any SparkSession, not just the tuned one from
    ``session.get_spark``: ``events.parquet`` stores ``ts`` as parquet
    TIMESTAMP(NANOS), which Spark refuses to read unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is on, so we set that conf at
    runtime before the read (it is runtime-settable) and then branch on the
    loaded dtype so a session that already mapped the column to a timestamp
    is handled too.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Flip nanosAsLong only for the duration of THIS read, then restore
        # the previous value — leaving it set session-wide would silently
        # map TIMESTAMP(NANOS) columns to bigint in later unrelated reads.
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        try:
            prev = spark.conf.get(conf_key)  # returns the default if unset
        except Exception:
            prev = None
        spark.conf.set(conf_key, "true")
        try:
            df = spark.read.parquet(path)
            # force schema resolution before restoring the conf
            df.schema
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
    else:
        df = spark.read.parquet(path)
    if name == "events":
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            # ns since epoch -> µs TIMESTAMP_NTZ. Integer DIV matches
            # DuckDB's exact ns->µs truncation ('/' on longs would go
            # through double and lose precision past 2^53).
            df = df.withColumn(
                "ts",
                F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"),
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    _TABLE_CACHE[key] = df
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> None:
    """Register tables as temp views for the SQL API.

    ``tables`` limits registration to the views a query actually reads —
    this skips 8 wasted parquet-footer reads per query and keeps unrelated
    queries decoupled from any one table's storage quirks.
    """
    for name in tables if tables is not None else TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
