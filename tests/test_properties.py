"""Property-based tests (hypothesis) — SURVEY.md §5.2: normalization
idempotence, validation partition, portable rounding consistency."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st

from les_etl_pipeline_spark.functions.rounding import hround
from les_etl_pipeline_spark.operators.normalize import clean_cell
from les_etl_pipeline_spark.operators.validation import profile_data, split_flagged

cells = st.one_of(
    st.none(),
    st.sampled_from(["", "  ", "ND1", "ND5", "No Collateral", "nd1"]),
    st.text(
        alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=127),
        max_size=12,
    ),
)


@settings(max_examples=20, deadline=None)
@given(st.lists(cells, min_size=1, max_size=8))
def test_clean_cell_idempotent(spark, values):
    """normalize(normalize(x)) == normalize(x)."""
    df = spark.createDataFrame([(v,) for v in values], "c string")
    once = [r["c"] for r in df.select(clean_cell("c").alias("c")).collect()]
    df2 = spark.createDataFrame([(v,) for v in once], "c string")
    twice = [r["c"] for r in df2.select(clean_cell("c").alias("c")).collect()]
    assert once == twice


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["2023-06-30", "1999-03", "bad"])),
            st.one_of(st.none(), st.sampled_from(["1", "7.25", "x", "250"])),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_validation_is_partition(spark, rows):
    """good ∪ bad == all, good ∩ bad == ∅ (mirrors silver_funcs.py:76-77)."""
    df = spark.createDataFrame(rows, "d string, n string")
    rules = {
        "d": {"type": "datetime", "nullable": False},
        "n": {"type": "number", "min": 0, "max": 100},
    }
    good, bad = split_flagged(profile_data(df, rules))
    assert good.count() + bad.count() == df.count()


@settings(max_examples=50, deadline=None)
@given(st.floats(min_value=-1e9, max_value=1e9, allow_nan=False))
def test_hround_matches_python_formula(spark_float_cache, x):
    """The Spark hround formula == the same IEEE ops in Python."""
    expected = math.floor(x * 100.0 + 0.5) / 100.0
    got = spark_float_cache(x)
    assert got == expected


import pytest  # noqa: E402


@pytest.fixture(scope="module")
def spark_float_cache(spark):
    """Evaluate hround through a real Spark plan, batched per example."""
    from pyspark.sql import functions as F

    def run(x: float) -> float:
        df = spark.createDataFrame([(x,)], "x double")
        return df.select(hround(F.col("x")).alias("r")).collect()[0]["r"]

    return run


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(st.sampled_from(["k1", "k2", "k3"]), st.integers(0, 5)),
            min_size=1,
            max_size=3,
        ),
        min_size=1,
        max_size=3,
    )
)
def test_scd2_sequence_invariants(spark, batches):
    """Applying any sequence of batches preserves: exactly one current
    row per live key; history rows all closed; final current value ==
    last batch value per key."""
    from les_etl_pipeline_spark.operators.normalize import scd2_stamp
    from les_etl_pipeline_spark.operators.scd2 import scd2_merge
    from pyspark.sql import functions as F

    def stamp(pairs):
        df = spark.createDataFrame(
            [("d", "2023-01-01", k, str(v)) for k, v in pairs],
            "ed_code string, pcd string, K string, V string",
        )
        return scd2_stamp(df, ["K", "V"])

    last_value = {}
    state = None
    for batch in batches:
        dedup = {}
        for k, v in batch:
            dedup[k] = v  # one row per key per batch (merge contract)
        last_value.update(dedup)
        stamped = stamp(list(dedup.items()))
        state = stamped if state is None else scd2_merge(state, stamped, ["K"])
    rows = state.collect()
    current = [r for r in rows if r["iscurrent"] == 1]
    history = [r for r in rows if r["iscurrent"] == 0]
    assert {r["K"] for r in current} == set(last_value)
    assert len(current) == len(last_value)
    for r in current:
        assert r["V"] == str(last_value[r["K"]])
        assert r["valid_to"] is None
    for r in history:
        assert r["valid_to"] is not None


def test_approx_count_distinct_within_rsd(spark):
    """approx_count_distinct at rsd=0.01 stays within 5% of exact on the
    test data (sanity bound for the rows-only query)."""
    from les_etl_pipeline_spark.catalog import table
    from pyspark.sql import functions as F

    li = table(spark, "/root/testdata/sf0.001", "lineitem")
    exact = li.select(F.countDistinct("l_partkey").alias("n")).collect()[0]["n"]
    approx = li.select(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("n")
    ).collect()[0]["n"]
    assert abs(approx - exact) / exact < 0.05


def test_fixed_gap_is_special_case_of_dynamic_sessionize(spark, sf_dir):
    """Locks the two sessionization operators together: the dynamic-gap
    core with a CONSTANT gap expression must produce exactly the
    sessions of the fixed-gap query (gap=const ⇒ the dynamic form
    degenerates to the fixed form)."""
    from pyspark.sql import functions as F

    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.queries.events2 import (
        events_sessionize_batch,
        sessionize,
    )

    ev = table(spark, sf_dir, "events")
    # a "dynamic" gap expression that always evaluates to 30 minutes
    const_gap = F.when(F.col("event_type").isNotNull(), 30 * 60).otherwise(30 * 60)
    dyn = sessionize(ev, const_gap).collect()
    fixed = events_sessionize_batch(spark, sf_dir).collect()
    assert [tuple(r) for r in dyn] == [tuple(r) for r in fixed]


@given(
    st.lists(
        st.tuples(st.integers(0, 63), st.integers(0, 63)), min_size=1, max_size=24
    )
)
@settings(max_examples=20, deadline=None)
def test_morton_key_bijective_and_bounded(spark, pts):
    """Property: the 6-bit Morton key is a bijection of (x, y) — it
    decodes back to its inputs and stays inside [0, 2^12)."""
    from pyspark.sql import functions as F

    from les_etl_pipeline_spark.functions.zorder import morton_key

    df = spark.createDataFrame(list(set(pts)), "x int, y int")
    rows = df.select(
        "x", "y", morton_key(F.col("x"), F.col("y"), 6).alias("z")
    ).collect()
    for r in rows:
        assert 0 <= r.z < 4096
        x = sum(((r.z >> (2 * i)) & 1) << i for i in range(6))
        y = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(6))
        assert (x, y) == (r.x, r.y)


@given(
    st.lists(
        st.tuples(st.sampled_from("abc"), st.integers(-1000, 1000), st.booleans()),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None)
def test_incremental_merge_equals_full_aggregate(spark, rows):
    """Property: for ANY split of the input into two batches, merging
    the batches' partial (count, sum, min, max) states equals the
    from-scratch aggregate — the invariant agg_incremental_merge and
    streaming/incremental.py rely on. The boolean column is the
    arbitrary split predicate."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "g string, v long, in_b1 boolean")

    def partial(b):
        return b.groupBy("g").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )

    merged = (
        partial(df.where("in_b1"))
        .unionAll(partial(df.where("NOT in_b1")))
        .groupBy("g")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    full = partial(df)
    got = {tuple(r) for r in merged.collect()}
    expect = {tuple(r) for r in full.collect()}
    assert got == expect
