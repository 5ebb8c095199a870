"""Typed cast engine: declared cast maps applied as ONE projection.

Re-expresses the reference's cast_to_datatype
(/root/reference/src/les_etl_pipeline/utils/silver_funcs.py:15-34), which
loops 127 sequential withColumn calls (plan bloat, O(n^2) analysis —
SURVEY.md §4.2), as a single ``selectExpr``. Each column's cast has ONE
definition, as SQL text (``_cast_sql``): parsing 127 short strings costs
the driver one py4j command per column, where the Column-API build of
the same expressions sent one per node. Cast semantics preserved exactly:

    BooleanType   'y' -> True, anything else including NULL -> False (F7)
    DateType      date parse, non-conforming -> NULL (F8)
    DoubleType    cast + round 2dp (F9; money is double-2dp by design)
    IntegerType   plain cast, garbage -> NULL (F10)
    StringType    passthrough

All parses use ``try_cast`` so malformed input yields NULL under BOTH ANSI
(Spark 4 default, ``spark.sql.ansi.enabled=true``) and legacy modes — the
reference ran under Spark-3 legacy semantics where a plain ``cast`` already
NULLed garbage (silver_funcs.py:28-33); ``try_cast`` is the mode-independent
spelling of exactly those semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .normalize import ident


def _cast_sql(colname: str, dtype: T.DataType) -> str:
    """The SQL text of one column's cast per reference semantics."""
    c = ident(colname)
    if isinstance(dtype, T.BooleanType):
        # silver_funcs.py:24-27 — exact match on 'y' (ingest already
        # lowercased, F11); null -> False (diverges from SQL 3VL)
        expr = f"CASE WHEN CAST({c} AS STRING) = 'y' THEN true ELSE false END"
    elif isinstance(dtype, T.DateType):
        # silver_funcs.py:28-29 — to_date(c) with no format IS cast-to-date;
        # try_cast keeps the malformed->NULL contract under ANSI
        expr = f"try_cast({c} AS DATE)"
    elif isinstance(dtype, T.DoubleType):
        expr = f"round(try_cast({c} AS DOUBLE), 2)"  # silver_funcs.py:30-31
    elif isinstance(dtype, T.IntegerType):
        # silver_funcs.py:32-33 — legacy string->int truncates decimal
        # strings ('4.2' -> 4) and NULLs garbage/overflow; try_cast straight
        # to int would NULL '4.2', so go through double (exact for the full
        # int range) and truncate, which ANSI permits for numeric->int
        expr = f"try_cast(try_cast({c} AS DOUBLE) AS INT)"
    else:
        expr = f"try_cast({c} AS {dtype.simpleString()})"
    return f"{expr} AS {c}"


def cast_expr(colname: str, dtype: T.DataType) -> Column:
    """The cast expression for one column per reference semantics."""
    return F.expr(_cast_sql(colname, dtype))


def cast_to_datatype(df: DataFrame, cast_map: dict[str, T.DataType]) -> DataFrame:
    """Apply a {column: DataType} cast map in one projection; columns not
    in the map pass through unchanged. Missing columns are skipped (files
    may carry column subsets — generate_asset_silver.py:31-44)."""
    return df.selectExpr(
        *[_cast_sql(c, cast_map[c]) if c in cast_map else ident(c) for c in df.columns]
    )
