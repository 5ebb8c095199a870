"""Engine-portable money rounding.

The reference rounds money to 2dp (F9, silver_funcs.py:30-31). Spark's
round() is BigDecimal HALF_UP over the exact decimal expansion of the
double, while DuckDB's round() goes through libm — at half-cent boundaries
(x.xx5) they disagree on the same input double. Since the correctness gate
hash-compares values cell-for-cell, every rounded output instead uses the
explicit formula

    floor(x * 10^d + 0.5) / 10^d

written identically in the Spark plan and the oracle SQL: both engines then
execute the same IEEE-754 operations on the same input and produce
bit-identical results. (Half-up toward +inf for negatives — acceptable and
consistent, documented divergence from BigDecimal HALF_UP away-from-zero.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hround(c: Column | str, digits: int = 2) -> Column:
    """floor(c * 10^digits + 0.5) / 10^digits, as a double."""
    if isinstance(c, str):
        c = F.col(c)
    p = 10 ** digits
    return (F.floor(c * F.lit(float(p)) + F.lit(0.5)) / F.lit(float(p))).cast("double")


def cents_sum(c: Column | str) -> Column:
    """Order-independent money sum in integer CENTS: per-row
    ``floor(x * 100 + 0.5)`` runs the same IEEE-754 ops on the same
    double in both engines (bit-identical), then the BIGINT sum is exact
    and partition-order independent. Use instead of
    ``hround(F.sum(x))`` when a double sum could land within 1 ulp of a
    half-cent boundary — the floor formula would amplify that ulp into
    a visible half-cent cross-engine mismatch. (Semantics: sum of
    per-line rounded cents, not rounded sum — declared in the query
    contract.) SQL twin: ``cents_sum_sql``."""
    if isinstance(c, str):
        c = F.col(c)
    return F.sum(F.floor(c * F.lit(100.0) + F.lit(0.5))).cast("long")


def cents_sum_sql(expr: str) -> str:
    """The identical cents sum as DuckDB SQL text (sum(BIGINT) in DuckDB
    is HUGEINT — cast back to BIGINT to match Spark's long)."""
    return f"CAST(sum(CAST(floor(({expr}) * 100.0 + 0.5) AS BIGINT)) AS BIGINT)"
