"""Unit tests for the validation-rule compiler (reference §2.8 semantics:
Cerberus dicts -> Column predicates; silver_funcs.py:37-78 +
validation_rules.py cited for parity, not copied)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from les_etl_pipeline_spark.operators.validation import (
    coerce_datetime,
    compile_rules,
    profile_data,
    split_flagged,
)

RULES = {
    "AL1": {"type": "datetime", "nullable": False, "min": "2012-01-01", "max": "2030-12-31"},
    "AL2": {"nullable": False},
    "AL18": {"allowed": ["0", "1", "2", "3", "4", "5", "6"]},
    "AL30": {"type": "number", "min": 0, "max": 100},
}


def _mkdf(spark, rows):
    return spark.createDataFrame(
        rows, "AL1 string, AL2 string, AL18 string, AL30 string"
    )


def test_good_and_bad_split(spark):
    df = _mkdf(
        spark,
        [
            ("2023-06-30", "pool-1", "2", "7.25"),     # good
            (None, "pool-1", "2", "7.25"),             # AL1 required
            ("2023-06-30", None, "2", "7.25"),         # AL2 required
            ("2023-06-30", "pool-1", "9", "7.25"),     # AL18 enum
            ("2023-06-30", "pool-1", "2", "250"),      # AL30 max
            ("2011-01-01", "pool-1", "2", "7.25"),     # AL1 below min
            ("2023-06-30", "pool-1", None, None),      # nullables -> good
        ],
    )
    good, bad = split_flagged(profile_data(df, RULES))
    assert good.count() == 2
    assert bad.count() == 5
    # partition property: good ∪ bad = all, good ∩ bad = ∅
    assert good.count() + bad.count() == df.count()


def test_qc_errors_name_failed_rules(spark):
    df = _mkdf(spark, [(None, "pool-1", "9", "7.25")])
    _, bad = split_flagged(profile_data(df, RULES))
    row = bad.collect()[0]
    failed = json.loads(row["qc_errors"])["failed"]
    assert "AL1.required" in failed
    assert "AL18.allowed" in failed
    assert not any(f.startswith("AL30") for f in failed)


def test_unknown_column_strict(spark):
    df = spark.createDataFrame([("2023-06-30", "p", "2", "1", "zzz")],
                               ["AL1", "AL2", "AL18", "AL30", "EXTRA"])
    good, bad = split_flagged(profile_data(df, RULES, strict_columns=True))
    assert good.count() == 0 and bad.count() == 1
    good2, bad2 = split_flagged(profile_data(df, RULES, strict_columns=False))
    assert good2.count() == 1 and bad2.count() == 0
    # lineage columns are exempt from strictness
    good3, _ = split_flagged(profile_data(df, RULES, strict_columns=True, lineage_cols=("EXTRA",)))
    assert good3.count() == 1


def test_multiformat_date_coercion(spark):
    df = spark.createDataFrame(
        [("2023-06-30",), ("1999-03",), ("2019",), ("nope",)], ["d"]
    )
    out = df.select(coerce_datetime(F.col("d")).cast("date").cast("string").alias("c"))
    assert [r["c"] for r in out.collect()] == [
        "2023-06-30", "1999-03-01", "2019-01-01", None,
    ]


def test_no_python_udf_in_plan(spark):
    """The §2.8 point: validation compiles to native predicates — no
    BatchEvalPython / ArrowEvalPython stage may appear."""
    df = _mkdf(spark, [("2023-06-30", "p", "2", "1")])
    flag, _ = compile_rules(RULES, df_columns=df.columns)
    plan = df.withColumn("flag", flag)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_typed_columns_accepted(spark):
    """Rules also apply to already-typed columns (post-cast re-validation)."""
    df = spark.createDataFrame([(7.5,), (250.0,), (None,)], ["AL30"])
    good, bad = split_flagged(profile_data(df, {"AL30": {"type": "number", "min": 0, "max": 100}}))
    assert good.count() == 2  # 7.5 and NULL (nullable) pass
    assert bad.count() == 1


def test_transliterate_ligatures(spark):
    """F12 fidelity: ß/ligature folds match unidecode's output
    (bronze_funcs.py:22-33), beyond what NFKD alone covers."""
    from les_etl_pipeline_spark.operators.normalize import transliterate_ascii

    df = spark.createDataFrame(
        [("straße",), ("cœur",), ("Ærø",), ("Łódź",), ("crédit",), (None,)],
        "s string",
    )
    got = [r["t"] for r in df.select(transliterate_ascii("s").alias("t")).collect()]
    assert got == ["strasse", "coeur", "AEro", "Lodz", "credit", None]


def test_catalog_table_vanilla_conf(spark, sf_dir):
    """catalog.table must self-provision the nanosAsLong conf — the driver
    harness calls it from a session that never went through get_spark."""
    from les_etl_pipeline_spark.catalog import table

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    df = table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    assert df.count() > 0


def test_cerberus_message_mode(spark):
    """qc_errors in cerberus_messages mode reproduces the errors-dict
    shape and wording the reference persisted (silver_funcs.py:57-61:
    validator.errors straight from Cerberus)."""
    import json

    from les_etl_pipeline_spark.operators.validation import profile_data, split_flagged

    df = spark.createDataFrame(
        [("", "99", "x"), ("ok", "5", "1.5")], "a string, b string, c string"
    )
    df = df.replace("", None, subset=["a"])
    rules = {
        "a": {"type": "string", "nullable": False},
        "b": {"type": "number", "min": 0, "max": 10},
        "c": {"type": "number"},
    }
    good, bad = split_flagged(profile_data(df, rules, cerberus_messages=True))
    assert good.count() == 1 and bad.count() == 1
    errs = json.loads(bad.collect()[0]["qc_errors"])
    assert errs["a"] == ["null value not allowed"]
    assert errs["b"] == ["max value is 10"]
    assert errs["c"] == ["must be of number type"]
