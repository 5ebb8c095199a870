"""Bit-identity pins for values already written to bronze and silver
tables: the row checksum, the ingest cell cleaning and the silver casts,
each over fixed inputs, against outputs hard-coded from the Column-API
builders these SQL-text builders replaced.

A drifted checksum would make a day-2 SCD2 merge over a table written by
the earlier code close out and re-insert every row; a drifted clean or
cast would change values with no row changed upstream.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import types as T

from les_etl_pipeline_spark.operators.cast_engine import cast_expr
from les_etl_pipeline_spark.operators.normalize import checksum, clean_cell

US = "\x1f"  # the checksum's own separator, inside a value

CHECKSUM_ROWS = [
    ("d1", "2023-06-30", "a", "b"),
    (None, "2023-06-30", None, "b"),
    ("d1", None, "x" + US + "y", None),
    ("dé", "2023", "ü€😀", "ND1"),
    (None, None, None, None),
    ("", "", "", ""),
]
CHECKSUMS = [
    "9fb8b743e21d033d9e1f35d4af3d40f3",
    "aaa459f91f2b42dd5ec543a82c297318",
    "d7e9721511b9e617cd82939e9b1d1784",
    "c861cfed37a97841a9818efc8a1bf088",
    "d41d8cd98f00b204e9800998ecf8427e",
    "0abf35f7883e45d77c8a2c0a1e8ef8c6",
]

#: null markers, near-misses of them, whitespace, numbers at and past the
#: int range, NaN, and bad dates
VALUES = [
    "ND", "nd2", "ND7", "NDx", " ND1 ", "", "   ", "\t", None, "No Collateral",
    " No Collateral ", "no collateral", " Y ", "4.2", "2147483648", "NaN",
    "2023-02-30", "2023-13-01", "20230630", "2023-06-30", "1e2", "-7", "7.255",
    "Ünïcode", "ABC def",
]
CLEANED = [
    None, "nd2", None, None, None, None, None, "\t", None, None, None,
    "no collateral", "y", "4.2", "2147483648", "nan", "2023-02-30",
    "2023-13-01", "20230630", "2023-06-30", "1e2", "-7", "7.255", "ünïcode",
    "abc def",
]
_N = [None] * 13
CAST = {
    T.BooleanType(): [False] * len(VALUES),
    T.DateType(): [None] * 19 + [datetime.date(2023, 6, 30)] + [None] * 5,
    T.DoubleType(): _N + [4.2, 2147483648.0, float("nan"), None, None, 20230630.0,
                          None, 100.0, -7.0, 7.26, None, None],
    T.IntegerType(): _N + [4, None, None, None, None, 20230630, None, 100, -7, 7,
                           None, None],
    T.LongType(): _N + [None, 2147483648, None, None, None, 20230630, None, None,
                        -7, None, None, None],
    T.StringType(): VALUES,
}


def test_checksum_is_bit_identical(spark):
    df = spark.createDataFrame(CHECKSUM_ROWS, "ed_code string, pcd string, k string, v string")
    assert [r[0] for r in df.select(checksum(["k", "v"])).collect()] == CHECKSUMS


def test_clean_cell_is_bit_identical(spark):
    df = spark.createDataFrame([(v,) for v in VALUES], "c string")
    assert [r[0] for r in df.select(clean_cell("c").alias("c")).collect()] == CLEANED


@pytest.mark.parametrize("dtype", list(CAST), ids=lambda t: t.simpleString())
def test_cast_expr_is_bit_identical(spark, dtype):
    df = spark.createDataFrame([(v,) for v in VALUES], "c string")
    out = df.select(cast_expr("c", dtype))
    assert out.schema["c"].dataType == dtype
    # repr: NaN equals NaN, and 4.2 must not come back as 4.2000000000000002
    assert repr([r[0] for r in out.collect()]) == repr(CAST[dtype])
