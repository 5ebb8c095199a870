"""Ingest normalization: the reference's driver-side CSV row cleaning
(S4/F11-F13, /root/reference/src/les_etl_pipeline/utils/bronze_funcs.py:
62-143) re-expressed as native Catalyst expressions over a distributed
scan — no /tmp downloads, no Python row loops, no driver materialization
(SURVEY.md §4.2 anti-pattern 1).

The per-column builders (cell cleaning, the row checksum) each have ONE
definition as SQL text, applied as a single ``selectExpr``/``F.expr``: at
the 127-column reference width a Column-API build sends tens of thousands
of py4j commands (one per node of every cell's expression), the parsed
text sends one per column.

Semantics preserved:
- null markers: empty string, 'ND<digit>'-prefixed, 'No Collateral' -> NULL
  (bronze_funcs.py:97-104)
- everything else lower().strip()
- lineage from the file name: {ed_code}_{YYYY}_{MM}_{DD}_*.csv ->
  ed_code (token 0), pcd (tokens 1-3 joined '-') (bronze_funcs.py:108-110)
- SCD2 + identity stamping (F1-F6, bronze_funcs.py:117-141):
  checksum, valid_from, valid_to, iscurrent, part
"""

from __future__ import annotations

import os
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: null markers (bronze_funcs.py:97-104). ND1..ND7 are EDW "no data" codes.
#: (Java's \d is [0-9]; spelled as a class so the SQL text needs no escape)
ND_PATTERN = "^ND[0-9]?"


def ident(name: str) -> str:
    """``name`` as a SQL identifier (backquoted, so any header cell works)."""
    return "`" + name.replace("`", "``") + "`"


def _clean_sql(name: str) -> str:
    c = ident(name)
    t = f"trim({c})"
    return (
        f"CASE WHEN {c} IS NULL OR {t} = '' OR {t} RLIKE '{ND_PATTERN}'"
        f" OR {t} = 'No Collateral' THEN NULL ELSE lower({t}) END"
    )


def clean_cell(name: str) -> Column:
    """F11: null-marker normalize + lower/trim. NULL-safe."""
    return F.expr(_clean_sql(name))


def normalize_cells(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Apply clean_cell to every (or the given) column in ONE projection."""
    target = set(cols) if cols is not None else set(df.columns)
    return df.selectExpr(
        *[f"{_clean_sql(c)} AS {ident(c)}" if c in target else ident(c) for c in df.columns]
    )


#: EDW file names are {ed_code}_{YYYY}_{MM}_{DD}_*.csv (bronze_funcs.py:108-110);
#: the Spark (lineage_from_filename) and driver (key_from_filename) parses
#: share these two patterns
ED_CODE_PATTERN = r"^([^_]+)_"
PCD_PATTERN = r"^[^_]+_(\d{4})_(\d{2})_(\d{2})"


def lineage_from_filename(df: DataFrame) -> DataFrame:
    """F13: derive filename / ed_code / pcd columns from the scanned file
    path, fully distributed via input_file_name()."""
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return (
        df.withColumn("filename", fname)
        .withColumn("ed_code", F.regexp_extract(fname, ED_CODE_PATTERN, 1))
        .withColumn(
            "pcd",
            F.concat_ws("-", *[F.regexp_extract(fname, PCD_PATTERN, i) for i in (1, 2, 3)]),
        )
    )


def key_from_filename(path: str) -> tuple[str, str]:
    """The (ed_code, pcd) that lineage_from_filename gives the rows of the
    file at ``path``, parsed on the driver from its name — what the run
    ledger records and the bronze skip filter compares, with no scan."""
    name = os.path.basename(path)
    ed = re.match(ED_CODE_PATTERN, name, re.ASCII)
    pcd = re.match(PCD_PATTERN, name, re.ASCII)
    return (ed.group(1) if ed else "", "-".join(pcd.groups() if pcd else ("", "", "")))


def checksum(primary_cols: list[str]) -> Column:
    """F1 row checksum over (ed_code, pcd, primary cols).

    The reference's concat() nulls the whole checksum when any key part is
    null (SURVEY.md §7.4(3)); concat_ws over a unit separator keeps it
    null-safe."""
    parts = ", ".join(f"CAST({ident(c)} AS STRING)" for c in ["ed_code", "pcd", *primary_cols])
    return F.expr(f"md5(concat_ws('\x1f', {parts}))")


def part_key() -> Column:
    """F2+F3: part = ed_code + '_' + pcd with hyphens stripped
    (bronze_funcs.py:136-140) — the Hive partition key for every write."""
    return F.concat(F.col("ed_code"), F.lit("_"), F.regexp_replace("pcd", "-", ""))


def part_name(ed_code: str, pcd: str) -> str:
    """part_key's value for one (ed_code, pcd), computed on the driver —
    the bronze stage names the partitions a CSV batch touches from the
    key_from_filename keys, with no scan."""
    return f"{ed_code}_{pcd.replace('-', '')}"


def scd2_stamp(df: DataFrame, primary_cols: list[str]) -> DataFrame:
    """F1-F6 initial-load SCD2 stamping (bronze_funcs.py:129-140)."""
    return df.withColumns(
        {
            "valid_from": F.current_timestamp(),
            "valid_to": F.lit(None).cast("timestamp"),
            "iscurrent": F.lit(1),
            "checksum": checksum(primary_cols),
            "part": part_key(),
        }
    )


def transliterate_ascii(c: Column | str) -> Column:
    """F12: unicode transliteration to ASCII (bronze_funcs.py:22-33 ran
    unidecode over the whole file on the driver). Arrow-vectorized pandas
    UDF over NFKD decomposition + combining-mark strip — the one operator
    where SURVEY.md §2.4 concedes a UDF is genuinely required; everything
    around it stays JVM-side."""
    import unicodedata

    # NFKD strips combining marks but leaves ß and a few non-decomposing
    # ligatures; this table closes the gap to unidecode's output for the
    # characters EDW data actually contains (bronze_funcs.py:22-33)
    _LIGATURES = str.maketrans(
        {
            "ß": "ss", "ẞ": "SS",
            "æ": "ae", "Æ": "AE",
            "œ": "oe", "Œ": "OE",
            "ð": "d", "Ð": "D",
            "þ": "th", "Þ": "Th",
            "ø": "o", "Ø": "O",
            "đ": "d", "Đ": "D",
            "ł": "l", "Ł": "L",
        }
    )

    @F.pandas_udf("string")
    def _translit(s: pd.Series) -> pd.Series:
        def fix(v):
            if v is None:
                return None
            v = v.replace("﻿", "").replace("\0", "")
            v = v.translate(_LIGATURES)
            decomposed = unicodedata.normalize("NFKD", v)
            return "".join(ch for ch in decomposed if not unicodedata.combining(ch))

        return s.map(fix)

    return _translit(F.col(c) if isinstance(c, str) else c)
