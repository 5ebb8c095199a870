"""SCD2 merge — the semantics the reference intended but left dead.

The reference imports and calls perform_scd2
(/root/reference/src/les_etl_pipeline/generate_deal_details_bronze.py:11,195)
but never defines it (SURVEY.md §0, §2.9): re-loading an existing
partition raises NameError, swallowed by retries. This module SPECIFIES
and implements the missing semantics (SURVEY.md §7.4(1)):

- match key: the business key (ed_code, pcd, *primary_cols)
- change detection: checksum inequality over the tracked payload
- merge: close out changed current rows (valid_to=now, iscurrent=0),
  insert incoming rows as new current versions, pass unchanged rows
  through untouched
- re-run idempotence: applying the same batch twice is a no-op (equal
  checksums -> no close-out, no insert)

Implementation is a pure DataFrame transform (one shuffle on the
business key): the bronze stage reads the old parquet table, merges, and
overwrites the touched partitions with the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .normalize import ident


def _key(primary_cols: list[str]) -> list[str]:
    return ["ed_code", "pcd", *primary_cols]


def _one_row_per_key(new: DataFrame, key: list[str]) -> DataFrame:
    """Collapse an incoming batch to one row per merge key.

    A repeated key in one batch (a row duplicated inside an EDW file —
    present in the reference's data, handled there by the silver layer's
    dropDuplicates) would otherwise fan out the merge join: the same
    current row lands in both `keep` and `closed`, and multiple
    iscurrent=1 versions get inserted for one key. Deterministic winner:
    highest checksum (arbitrary but stable across runs/engines).
    """
    w = Window.partitionBy(*key).orderBy(F.col("checksum").desc_nulls_last())
    return (
        new.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def scd2_merge(
    old: DataFrame, new: DataFrame, primary_cols: list[str]
) -> DataFrame:
    """Merge a stamped `new` batch into the stamped `old` table.

    Both inputs carry the SCD2 bookkeeping columns (valid_from, valid_to,
    iscurrent, checksum) from normalize.scd2_stamp. Returns the full new
    state of the table (history rows + closed-out rows + current rows).
    """
    key = _key(primary_cols)
    # old's columns as SQL text: one py4j command per name per projection
    cols = [ident(c) for c in old.columns]

    history = old.where(F.col("iscurrent") == 0)
    current = old.where(F.col("iscurrent") == 1)

    incoming = _one_row_per_key(new.selectExpr(*cols), key)  # align + dedupe
    inc_keyed = incoming.selectExpr(
        *[f"{ident(c)} AS {ident('_n_' + c)}" for c in incoming.columns]
    )
    join_cond = [F.col(k).eqNullSafe(F.col(f"_n_{k}")) for k in key]

    matched = current.join(inc_keyed, join_cond, "left")

    # unchanged current rows (no incoming row, or same checksum): keep as-is
    keep = matched.where(
        F.col("_n_checksum").isNull() | (F.col("_n_checksum") == F.col("checksum"))
    ).selectExpr(*cols)

    # changed rows: close out the old version
    closed = (
        matched.where(
            F.col("_n_checksum").isNotNull() & (F.col("_n_checksum") != F.col("checksum"))
        )
        .selectExpr(*cols)
        .withColumn("valid_to", F.current_timestamp())
        .withColumn("iscurrent", F.lit(0))
    )

    # incoming rows that are genuinely new or changed become current rows
    cur_keyed = current.selectExpr(
        *[f"{ident(c)} AS {ident('_o_' + c)}" for c in [*key, "checksum"]]
    )
    inc_join = [F.col(k).eqNullSafe(F.col(f"_o_{k}")) for k in key]
    inserts = (
        incoming.join(cur_keyed, inc_join, "left")
        .where(F.col("_o_checksum").isNull() | (F.col("_o_checksum") != F.col("checksum")))
        .selectExpr(*cols)
    )

    return history.unionByName(keep).unionByName(closed).unionByName(inserts)


def current_snapshot(df: DataFrame) -> DataFrame:
    """S7: the bronze->silver scan idiom — current rows, bookkeeping
    dropped (generate_asset_silver.py:77-83)."""
    return df.where(F.col("iscurrent") == 1).drop(
        "valid_from", "valid_to", "checksum", "iscurrent"
    )

