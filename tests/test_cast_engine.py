"""Unit tests for the cast engine (reference F7-F10 semantics,
silver_funcs.py:15-34 — cited for parity, not copied)."""

from __future__ import annotations

import datetime

from pyspark.sql import types as T

from les_etl_pipeline_spark.operators.cast_engine import cast_to_datatype


def _one(df, col):
    return [r[col] for r in df.collect()]


def test_bool_y_n_null(spark):
    df = spark.createDataFrame([("y",), ("n",), (None,), ("Y",), ("yes",)], ["b"])
    out = cast_to_datatype(df, {"b": T.BooleanType()})
    # F7: only exact 'y' -> True; everything else incl. NULL -> False
    assert _one(out, "b") == [True, False, False, False, False]


def test_date_garbage_null(spark):
    df = spark.createDataFrame([("2023-06-30",), ("nope",), (None,)], ["d"])
    out = cast_to_datatype(df, {"d": T.DateType()})
    assert _one(out, "d") == [datetime.date(2023, 6, 30), None, None]


def test_double_round_2dp(spark):
    df = spark.createDataFrame([("7.256",), ("1e2",), ("oops",)], ["x"])
    out = cast_to_datatype(df, {"x": T.DoubleType()})
    assert _one(out, "x") == [7.26, 100.0, None]


def test_int_cast(spark):
    df = spark.createDataFrame([("42",), ("-7",), ("4.2",), ("x",), (None,)], ["i"])
    out = cast_to_datatype(df, {"i": T.IntegerType()})
    # non-ANSI Spark cast truncates decimal strings ('4.2' -> 4),
    # garbage -> NULL (reference F10 ran the same Spark semantics)
    assert _one(out, "i") == [42, -7, 4, None, None]


def test_missing_columns_skipped(spark):
    df = spark.createDataFrame([("a", "1")], ["keep", "num"])
    out = cast_to_datatype(df, {"num": T.IntegerType(), "absent": T.DoubleType()})
    assert out.columns == ["keep", "num"]
    assert out.schema["num"].dataType == T.IntegerType()


def test_single_projection_plan(spark):
    """127 casts must not become 127 nested projections (SURVEY.md §4.2)."""
    cols = [f"c{i}" for i in range(40)]
    df = spark.createDataFrame([tuple(str(i) for i in range(40))], cols)
    out = cast_to_datatype(df, {c: T.IntegerType() for c in cols})
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Project") <= 1
