"""Declarative row-validation engine: rule dicts compiled to native Column
predicates.

Re-expresses the reference's Cerberus RDD validation pass
(/root/reference/src/les_etl_pipeline/utils/silver_funcs.py:37-78 with the
rule schemas in utils/validation_rules.py) as a **compiler from rule dicts
to Catalyst expressions** (SURVEY.md §2.8): instead of shipping every row
through a Python worker (JVM<->Python serde, no codegen), each rule becomes
a boolean Column, the row flag is the AND of all rules, and qc_errors is a
JSON object of per-rule failures. The whole validation pass then runs
inside whole-stage codegen — at 100 TB this is the difference between a
scan-speed filter and a Python-bound pipeline.

Rule language (Cerberus-compatible subset, covering every construct
validation_rules.py actually uses):
    type      'string' | 'number' | 'datetime'  (coercion check)
    nullable  bool (default True) — False rejects NULL
    allowed   list of allowed values (post-normalization strings)
    min/max   bounds; for 'datetime' ISO date strings, for 'number' numbers
    meta      ignored (human labels)

Semantic gotchas preserved (SURVEY.md §2.8):
- unknown columns: Cerberus rejects rows whose columns are not in the
  schema; `profile_data(strict_columns=True)` reproduces this as a
  plan-time whole-column check (a column either exists or not — constant
  per DataFrame, so it is evaluated once, not per row).
- multi-format date coercion (validation_rules.py:10-23): yyyy-MM-dd,
  yyyy-MM, yyyy fallback chain.
- number coercion = float() (validation_rules.py:4): cast to double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MIN_DATETIME = "1900-01-01"
MAX_DATETIME = "2100-12-31"


def coerce_datetime(c: Column) -> Column:
    """Reference TO_DATE (validation_rules.py:10-23): try yyyy-MM-dd, then
    yyyy-MM, then yyyy; non-conforming -> NULL. Accepts already-typed
    date/timestamp columns unchanged via the first cast attempt."""
    s = c.cast("string")
    return F.coalesce(
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(s, F.lit("yyyy-MM")),
        F.try_to_timestamp(s, F.lit("yyyy")),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd HH:mm:ss")),
    )


def coerce_number(c: Column) -> Column:
    """Reference TO_NUMBER = float(n) (validation_rules.py:4).

    try_cast: garbage -> NULL under both ANSI (Spark 4 default) and legacy
    modes — a plain cast would throw CAST_INVALID_INPUT on dirty strings
    under a stock session."""
    return c.try_cast("double")


def _rule_checks(
    colname: str, rule: dict, dtype: "T.DataType | None" = None
) -> "dict[str, tuple[Column, Column]]":
    """Compile one column's rule dict to named (check, message) pairs.

    Each check is True when the rule PASSES (NULL-safe: a NULL value
    passes every check except non-nullable). The message Column carries
    Cerberus's wording for the failure (silver_funcs.py:57-61 stored
    validator.errors verbatim) — only rendered when message mode is on.
    When the input column is already typed (``dtype``), coercion checks
    collapse to constants and range checks compare natively — the parse
    work exists only for string inputs (scan-speed fast path; see
    etl_validation_split bench).
    """
    c = F.col(colname)
    checks: dict[str, tuple[Column, Column]] = {}
    rtype = rule.get("type")

    already_numeric = isinstance(
        dtype, (T.DoubleType, T.FloatType, T.IntegerType, T.LongType, T.ShortType, T.DecimalType)
    )
    already_temporal = isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType))

    if rule.get("nullable") is False:
        checks[f"{colname}.required"] = (c.isNotNull(), F.lit("null value not allowed"))

    if rtype == "number":
        coerced = c if already_numeric else coerce_number(c)
        if not already_numeric:
            checks[f"{colname}.number"] = (
                c.isNull() | coerced.isNotNull(),
                F.lit("must be of number type"),
            )
        if "min" in rule:
            checks[f"{colname}.min"] = (
                c.isNull() | (coerced >= F.lit(float(rule["min"]))),
                F.lit(f"min value is {rule['min']}"),
            )
        if "max" in rule:
            checks[f"{colname}.max"] = (
                c.isNull() | (coerced <= F.lit(float(rule["max"]))),
                F.lit(f"max value is {rule['max']}"),
            )
    elif rtype == "datetime":
        coerced = c.cast("timestamp") if already_temporal else coerce_datetime(c)
        if not already_temporal:
            checks[f"{colname}.datetime"] = (
                c.isNull() | coerced.isNotNull(),
                F.lit("must be of datetime type"),
            )
        lo = str(rule.get("min", MIN_DATETIME))
        hi = str(rule.get("max", MAX_DATETIME))
        checks[f"{colname}.min"] = (
            c.isNull() | (coerced >= F.to_timestamp(F.lit(lo))),
            F.lit(f"min value is {lo}"),
        )
        checks[f"{colname}.max"] = (
            c.isNull() | (coerced <= F.to_timestamp(F.lit(hi))),
            F.lit(f"max value is {hi}"),
        )
    elif "min" in rule or "max" in rule:
        if "min" in rule:
            checks[f"{colname}.min"] = (
                c.isNull() | (c >= F.lit(rule["min"])),
                F.lit(f"min value is {rule['min']}"),
            )
        if "max" in rule:
            checks[f"{colname}.max"] = (
                c.isNull() | (c <= F.lit(rule["max"])),
                F.lit(f"max value is {rule['max']}"),
            )

    if "allowed" in rule:
        checks[f"{colname}.allowed"] = (
            c.isNull() | c.cast("string").isin([str(v) for v in rule["allowed"]]),
            F.concat(F.lit("unallowed value "), c.cast("string")),
        )
    return checks


def _all(checks: list[Column]) -> Column:
    """AND of ``checks`` as a balanced tree (True for none)."""
    if not checks:
        return F.lit(True)
    if len(checks) == 1:
        return checks[0]
    mid = len(checks) // 2
    return _all(checks[:mid]) & _all(checks[mid:])


def compile_rules(
    rules: dict[str, dict],
    strict_columns: bool = True,
    df_columns: list[str] | None = None,
    df_schema: "T.StructType | None" = None,
    cerberus_messages: bool = False,
) -> tuple[Column, Column]:
    """Compile a rule-dict schema to (flag, qc_errors) Columns.

    flag       boolean — True iff the row passes every rule
    qc_errors  JSON string naming each failed check (NULL when clean).
               Default shape: {"failed": ["col.check", ...]}. With
               ``cerberus_messages`` the shape matches what the reference
               stored — Cerberus's validator.errors dict
               {col: ["null value not allowed", ...]} with Cerberus's
               message wording (silver_funcs.py:57-61).

    With ``strict_columns`` and ``df_columns`` given, columns present in
    the data but absent from the schema fail every row (Cerberus
    unknown-key semantics) — evaluated as a constant, not per row.

    ``flag`` is a BALANCED AND tree over the checks (depth ~log2(checks)),
    not a left-deep chain: the optimizer pushes the NOT in ``qc_errors``
    and in the bad split through it one level per BooleanSimplification
    pass, so a chain of the 145 ASSET_RULES checks ran the optimizer's
    batch into its 100-iteration cap. AND is associative in three-valued
    logic and the tree keeps the checks' left-to-right order and
    short-circuit, so the value is the chain's.
    """
    checks: dict[str, tuple[Column, Column]] = {}
    for colname, rule in rules.items():
        if df_columns is not None and colname not in df_columns:
            # files may carry column subsets (generate_asset_silver.py:31-44);
            # rules for absent columns never fire (Cerberus sees only the
            # row dict's keys)
            continue
        dtype = df_schema[colname].dataType if (
            df_schema is not None and colname in df_schema.fieldNames()
        ) else None
        checks.update(_rule_checks(colname, rule, dtype))

    if strict_columns and df_columns is not None:
        unknown = [c for c in df_columns if c not in rules]
        for u in unknown:
            checks[f"{u}.unknown_column"] = (F.lit(False), F.lit("unknown field"))

    flag = _all([check for check, _ in checks.values()])

    if cerberus_messages:
        # {col: [msg, ...]} over columns with at least one failure,
        # Cerberus's errors-dict shape; map_filter keeps it sparse
        by_col: dict[str, list[tuple[Column, Column]]] = {}
        for name, (check, msg) in checks.items():
            by_col.setdefault(name.rsplit(".", 1)[0], []).append((check, msg))
        keys, vals = [], []
        for colname, pairs in by_col.items():
            keys.append(F.lit(colname))
            vals.append(
                F.filter(
                    F.array(*[F.when(~chk, msg) for chk, msg in pairs]),
                    lambda x: x.isNotNull(),
                )
            )
        errs = F.map_filter(
            F.map_from_arrays(F.array(*keys), F.array(*vals)),
            lambda _, v: F.size(v) > 0,
        )
        qc_errors = F.when(~flag, F.to_json(errs)).otherwise(F.lit(None))
    else:
        error_entries = [
            F.when(~check, F.lit(name)).otherwise(F.lit(None))
            for name, (check, _) in checks.items()
        ]
        qc_errors = F.when(
            ~flag,
            F.to_json(F.struct(F.filter(F.array(*error_entries), lambda x: x.isNotNull()).alias("failed"))),
        ).otherwise(F.lit(None))
    return flag, qc_errors


def profile_data(
    df: DataFrame,
    rules: dict[str, dict],
    strict_columns: bool = True,
    lineage_cols: tuple[str, ...] = (),
    cerberus_messages: bool = False,
) -> DataFrame:
    """Flag every row of df per the rule schema — the reference's
    profile_data (silver_funcs.py:37-78) without the RDD round-trip.

    Returns df plus ``flag`` (True iff the row passes every rule) and
    ``qc_errors``; ``split_flagged`` turns it into the reference's
    (good, bad) pair. Keeping the flagged frame whole lets a caller
    persist it once and feed every consumer of the split from that one
    validation pass.

    ``lineage_cols`` are exempt from the unknown-column strictness (the
    reference adds its common lineage schema for them,
    validation_rules.py:26-46)."""
    effective = dict(rules)
    for lc in lineage_cols:
        effective.setdefault(lc, {})
    flag, qc_errors = compile_rules(
        effective, strict_columns=strict_columns, df_columns=df.columns,
        df_schema=df.schema, cerberus_messages=cerberus_messages,
    )
    return df.withColumn("flag", flag).withColumn("qc_errors", qc_errors)


def split_flagged(flagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, bad) of a ``profile_data`` frame: the passing rows without
    the validation columns, and the failing rows with their qc_errors."""
    good = flagged.filter(F.col("flag")).drop("flag", "qc_errors")
    bad = flagged.filter(~F.col("flag")).drop("flag")
    return good, bad
