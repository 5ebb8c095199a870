"""Full-reference-width contract tests: every typed column of the
reference's silver cast maps (127 AL + 36 BL + 38 deal) casts to its
declared type, and every validation rule (nullability, enum domain, date
bound, numeric coercion) compiles and fires at full schema width.

Reference provenance: silver_funcs.py:81-248, validation_rules.py:49-1123,
generate_deal_details_silver.py:31-70 (cited per-map in schemas.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from les_etl_pipeline_spark import schemas as S
from les_etl_pipeline_spark.operators.cast_engine import cast_to_datatype
from les_etl_pipeline_spark.operators.validation import profile_data, split_flagged


def _valid_value(col: str, rules: dict) -> "str | None":
    """A value passing ``rules[col]`` (bronze contract: all strings)."""
    rule = rules[col]
    if "allowed" in rule:
        return rule["allowed"][-1]
    rtype = rule.get("type")
    if rtype == "number":
        return "123.456"
    if rtype == "datetime":
        return "2020-06-15"
    return "somevalue"


def _full_width_row(rules: dict) -> dict[str, str]:
    row = {c: _valid_value(c, rules) for c in rules}
    row.update(
        {"ed_code": "DEAL1", "part": "DEAL1_20200615", "filename": "f.csv", "pcd": "2020-06-15"}
    )
    return row


def _df_all_strings(spark, row: dict):
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in row])
    return spark.createDataFrame([tuple(row[c] for c in row)], schema)


@pytest.mark.parametrize(
    "cast_map_name,rules_name",
    [("ASSET_COLUMNS", "ASSET_RULES"), ("BOND_COLUMNS", "BOND_RULES")],
)
def test_full_width_cast_types(spark, cast_map_name, rules_name):
    """Every reference-typed column comes out of the cast engine with its
    declared silver type, at full 127/36-column width in ONE projection."""
    cast_map = getattr(S, cast_map_name)
    rules = getattr(S, rules_name)
    df = _df_all_strings(spark, _full_width_row(rules))
    out = cast_to_datatype(df, cast_map)
    got = {f.name: f.dataType for f in out.schema.fields}
    for col, dtype in cast_map.items():
        assert got[col] == dtype, f"{col}: {got[col]} != {dtype}"
    row = out.collect()[0]
    # spot semantics: double rounds to 2dp, date parses, bool is exact-'y'
    for col, dtype in cast_map.items():
        v = row[col]
        if isinstance(dtype, T.DoubleType):
            assert v == 123.46
        elif isinstance(dtype, T.BooleanType):
            assert v is False  # enum picked 'n'-ish last value unless y/n
        elif isinstance(dtype, T.DateType) and rules[col].get("type") == "datetime":
            assert str(v) == "2020-06-15"


def test_full_width_deal_cast_types(spark):
    """All 38 deal-details columns cast to their declared types."""
    vals = {}
    for col, dtype in S.DEAL_DETAILS_COLUMNS.items():
        if isinstance(dtype, T.BooleanType):
            vals[col] = "y"
        elif isinstance(dtype, T.DateType):
            vals[col] = "2021-03-31"
        elif isinstance(dtype, T.DoubleType):
            vals[col] = "1000.505"
        elif isinstance(dtype, T.IntegerType):
            vals[col] = "7"
        else:
            vals[col] = "v"
    df = _df_all_strings(spark, vals)
    out = cast_to_datatype(df, S.DEAL_DETAILS_COLUMNS)
    got = {f.name: f.dataType for f in out.schema.fields}
    assert got == dict(S.DEAL_DETAILS_COLUMNS)
    row = out.collect()[0]
    assert row["IsActiveDeal"] is True
    assert row["DealSize"] == 1000.51 or row["DealSize"] == 1000.5
    assert row["DealVersion"] == 7
    assert str(row["PoolCutOffDate"]) == "2021-03-31"


@pytest.mark.parametrize("rules_name", ["ASSET_RULES", "BOND_RULES"])
def test_full_width_valid_row_passes(spark, rules_name):
    """A row satisfying every rule at full width lands in good with the
    common lineage rules enforced too."""
    rules = dict(getattr(S, rules_name)) | S.COMMON_RULES
    df = _df_all_strings(spark, _full_width_row(getattr(S, rules_name)))
    good, bad = split_flagged(profile_data(df, rules, strict_columns=True))
    assert good.count() == 1
    assert bad.count() == 0


def test_full_width_rule_failures_fire(spark):
    """Each rule family fires at full width: non-null, enum domain, date
    window, numeric coercion, and the pcd lineage bound."""
    base = _full_width_row(S.ASSET_RULES)
    rules = dict(S.ASSET_RULES) | S.COMMON_RULES
    broken = [
        (dict(base, AL56=None), "AL56.required"),
        (dict(base, AL1="2035-01-01"), "AL1.max"),
        (dict(base, AL139="22"), "AL139.allowed"),
        (dict(base, AL30="not-a-number"), "AL30.number"),
        (dict(base, pcd="2001-01-01"), "pcd.min"),
    ]
    cols = list(base)
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in cols])
    df = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r, _ in broken], schema
    )
    good, bad = split_flagged(profile_data(df, rules, strict_columns=True))
    assert good.count() == 0
    errs = [r["qc_errors"] for r in bad.collect()]
    assert len(errs) == len(broken)
    joined = "\n".join(errs)
    for _, expected in broken:
        assert expected in joined, f"{expected} not in qc_errors"


def test_full_width_unknown_column_rejected(spark):
    """Cerberus unknown-key semantics at full width: an extra column not
    in the 127-rule schema fails the row."""
    row = _full_width_row(S.ASSET_RULES)
    row["AL999"] = "x"
    df = _df_all_strings(spark, row)
    rules = dict(S.ASSET_RULES) | S.COMMON_RULES
    good, bad = split_flagged(profile_data(df, rules, strict_columns=True))
    assert good.count() == 0
    assert "AL999.unknown_column" in bad.collect()[0]["qc_errors"]
