"""Driver-literal DataFrames with plan-provable bounded cardinality.

``spark.createDataFrame(small_python_list)`` plans as ``Scan
ExistingRDD`` — textually indistinguishable from a data-scale RDD (a
checkpointed corpus prints the same), so the plan-hygiene gate cannot
prove a nested-loop join against it is safe. ``driver_literal_df``
builds the same rows as ``Generate explode(<literal array>)`` over
``Range(0, 1)``: every row is embedded in the plan text, the fan-out is
the literal's length, and the gate's structural recognizer
(`tests/test_plan_hygiene.py::_is_bounded`) can verify bounded-ness with
no named allowlist entry (VERDICT r8 #5 — the ``scalar_broadcast``
helper option).

Use it for metadata-scale tables that feed broadcast joins: centroid
tables, PQ codebooks, parameter grids — anything that is k x d driver
scalars by construction. Do NOT use it for data (the rows land in the
plan string; Spark caps literal sizes long before that would be a good
idea anyway).

``local_df`` is the other way to make driver rows a frame: they travel as one
Arrow batch into a ``LocalRelation`` (``LocalTableScan``), so no Python
worker runs and the plan stays small whatever the row count. Use it for
rows that are written or collected, not joined: ledger appends, QC
counter rows, parsed driver-side files.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def driver_literal_df(
    spark: SparkSession, rows: list[tuple], schema: str
) -> DataFrame:
    """Rows-as-plan-literals DataFrame with exactly ``schema``.

    Value semantics match ``spark.createDataFrame(rows, schema)`` (each
    field is cast to its declared type), but the physical plan is
    ``Project <- Generate explode([...]) <- Range(0,1)`` — provably
    bounded to ``len(rows)`` rows by plan inspection alone."""
    st = StructType.fromDDL(schema)
    names = [f.name for f in st.fields]
    types = [f.dataType.simpleString() for f in st.fields]

    def field_lit(value, dtype: str):
        if isinstance(value, (list, tuple)):
            arr = F.array(*[F.lit(v) for v in value]) if value else F.array()
            return arr.cast(dtype)
        return F.lit(value).cast(dtype)

    structs = [
        F.struct(
            *[field_lit(v, t).alias(n) for v, t, n in zip(row, types, names)]
        )
        for row in rows
    ]
    if not structs:
        return local_df(spark, [], schema)
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("_s"))
        .select(*[F.col(f"_s.{n}").alias(n) for n in names])
    )


def local_df(spark: SparkSession, rows: list[tuple], ddl_schema: str) -> DataFrame:
    """``rows`` as a ``LocalRelation`` DataFrame with exactly ``ddl_schema``.

    Same values as ``spark.createDataFrame(rows, ddl_schema)``, but built
    from a ``pyarrow.Table``: the rows reach the JVM as an Arrow stream
    (``PythonSQLUtils.toDataFrame``), where the list route plans a
    pickled RDD whose tasks fork Python workers. The Arrow route does not
    read ``spark.sql.execution.arrow.pyspark.enabled``, so it works on
    any classic session."""
    st = StructType.fromDDL(ddl_schema)
    arrow_schema = to_arrow_schema(st)
    columns = list(zip(*rows)) or [()] * len(st.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, st)
