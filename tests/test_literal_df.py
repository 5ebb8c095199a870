"""Driver rows as DataFrames (functions/literal_df.py): ``local_df`` plans
a LocalRelation (no pickled RDD, so no Python worker) with the values
``createDataFrame(rows, schema)`` gives."""

from __future__ import annotations

import pytest

from les_etl_pipeline_spark.functions.literal_df import driver_literal_df, local_df

SCHEMA = "s string, n long, `a``b` string, `x y` long"
ROWS = [
    ("plain", 1, "ü", None),
    (None, 2**62, "`tick`", -7),
    ("漢字 ✓", None, None, 0),
    ("", -(2**63), "line\nbreak", 2**31),
]


def _analyzed_class(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_df_is_a_local_relation(spark, rows):
    df = local_df(spark, rows, SCHEMA)
    assert _analyzed_class(df) == "LocalRelation"
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.count() == len(rows)


def test_local_df_values_equal_create_dataframe(spark):
    got = local_df(spark, ROWS, SCHEMA)
    want = spark.createDataFrame(ROWS, SCHEMA)
    assert got.schema == want.schema
    assert got.columns == ["s", "n", "a`b", "x y"]
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()] == ROWS


def test_driver_literal_df_empty_rows_is_a_local_relation(spark):
    df = driver_literal_df(spark, [], "k int, v array<double>")
    assert _analyzed_class(df) == "LocalRelation"
    assert df.schema == spark.createDataFrame([], "k int, v array<double>").schema
    assert df.collect() == []
