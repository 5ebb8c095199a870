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

Implementation is one full outer join, the write-pass shape of Delta's
MERGE (Armbrust et al., "Delta Lake", VLDB 2020): the deduped batch joins
the old table on ``old.iscurrent = 1`` plus a null-safe match on every
key column, and each joined row emits its kept, closed-out and inserted
rows through one ``inline(filter(array(...)))``. Each input is scanned
once; history rows never match, so they cross the join shuffle once
instead of being scanned apart. The bronze stage merges the batch's
partitions of the old table and overwrites them with the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .normalize import ident


def one_row_per_key(new: DataFrame, primary_cols: list[str]) -> DataFrame:
    """Collapse an incoming batch to one row per merge key (ed_code, pcd,
    *primary_cols). scd2_merge applies it to its batch; a first load, with
    no old rows to merge with, applies it alone.

    A repeated key in one batch (a row duplicated inside an EDW file —
    present in the reference's data, handled there by the silver layer's
    dropDuplicates) would otherwise fan out the merge join: the same
    current row would be both kept and closed out, and multiple
    iscurrent=1 versions would be inserted for one key. Deterministic
    winner: highest checksum (arbitrary but stable across runs/engines).
    """
    key = ["ed_code", "pcd", *primary_cols]
    w = Window.partitionBy(*key).orderBy(F.col("checksum").desc_nulls_last())
    return new.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def scd2_merge(
    old: DataFrame, new: DataFrame, primary_cols: list[str]
) -> DataFrame:
    """Merge a stamped `new` batch into the stamped `old` table.

    Both inputs carry the SCD2 bookkeeping columns (valid_from, valid_to,
    iscurrent, checksum) from normalize.scd2_stamp. Returns the full new
    state of the table (history rows + closed-out rows + current rows).
    """
    key = ["ed_code", "pcd", *primary_cols]
    incoming = one_row_per_key(new.selectExpr(*[ident(c) for c in old.columns]), primary_cols)
    on = " AND ".join(["o.iscurrent = 1", *[f"o.{ident(k)} <=> n.{ident(k)}" for k in key]])
    joined = old.alias("o").join(incoming.alias("n"), F.expr(on), "full_outer")

    def row(side: str, **override: str) -> str:
        return "struct({})".format(", ".join(
            f"{override[c]} AS {ident(c)}" if c in override else f"{side}.{ident(c)}"
            for c in old.columns))

    # condition -> row emitted; a checksum is never null (md5), so a null
    # one marks the side a joined row lacks
    emit = {
        # keep: a history row, an untouched current row or an unchanged one
        "o.checksum IS NOT NULL AND (n.checksum IS NULL OR n.checksum = o.checksum)": row("o"),
        # close out a changed current row
        "n.checksum != o.checksum": row("o", valid_to="current_timestamp()", iscurrent="0"),
        # insert a new or changed row as the current version
        "n.checksum IS NOT NULL AND NOT (o.checksum <=> n.checksum)": row("n"),
    }
    rows = ", ".join(f"IF({cond}, {r}, NULL)" for cond, r in emit.items())
    return joined.selectExpr(f"inline(filter(array({rows}), r -> r IS NOT NULL))")


def current_snapshot(df: DataFrame) -> DataFrame:
    """S7: the bronze->silver scan idiom — current rows, bookkeeping
    dropped (generate_asset_silver.py:77-83)."""
    return df.where(F.col("iscurrent") == 1).drop(
        "valid_from", "valid_to", "checksum", "iscurrent"
    )

