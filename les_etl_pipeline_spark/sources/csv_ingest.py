"""EDW CSV ingest — distributed re-expression of the reference's
driver-side parse (S4, /root/reference/src/les_etl_pipeline/utils/
bronze_funcs.py:62-143): spark.read.csv does the scanning (vectorized,
parallel, no /tmp downloads), Catalyst expressions do the cleaning.

Contract reproduced:
- header row gives column names; first header cell force-renamed to
  AL1/BL1 (INITIAL_COL, bronze_funcs.py:16-19,90)
- row 2 (human-label/units row) skipped
- blank lines skipped (count of non-null cells == 0)
- cells: '' / ND* / 'No Collateral' -> NULL, else lower().strip() (F11)
- lineage filename/ed_code/pcd from the file path (F13)
- all columns StringType at bronze (stringly-typed by design)

Plan shape. The cells are cleaned in one SQL-text projection
(normalize.normalize_cells) and a one-column blank mark is computed over
the cleaned cells, both BELOW the label-row window; the one filter above
the window reads only the row number and that mark. Filtering on the
cleaned cells themselves above the window let Catalyst inline a predicate
over all 127 raw cells into the filter, and constraint propagation then
carried it through every node of each plan built on this frame (the
SCD2 merge re-derived it per node: seconds of optimizer time per plan at
the reference width).

File discovery (S1: list bucket, filter by key, exclude 'Labeled' assets
files) maps to glob + driver-side name filtering in list_csv_files.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.normalize import ident, lineage_from_filename, normalize_cells
from ..schemas import INITIAL_COL


def list_csv_files(
    prefix: str, file_key: str = "", data_type: str = "assets"
) -> list[str]:
    """S1 discovery semantics (bronze_funcs.py:146-164): .csv under the
    prefix containing file_key; assets files containing 'Labeled' are
    excluded."""
    out = []
    for p in sorted(glob.glob(os.path.join(prefix, "**", "*.csv"), recursive=True)):
        name = os.path.basename(p)
        if file_key and file_key not in name:
            continue
        if data_type == "assets" and "Labeled" in name:
            continue
        out.append(p)
    return out


def read_edw_csv(
    spark: SparkSession,
    paths: list[str] | str,
    data_type: str = "assets",
) -> DataFrame:
    """Distributed EDW CSV read with the S4 cleaning semantics.

    The label row (physical row 2 of each file) is dropped per file via a
    row_number window over the scan order within each file. Scale note:
    EDW files are per-deal (small); for huge single files prefer encoding
    the label row as a comment or stripping it upstream — the window costs
    one shuffle on (filename)."""
    df = (
        spark.read.option("header", True).option("inferSchema", False)
        .option("encoding", "UTF-8").csv(paths)
    )
    # force-rename the first header cell (bronze_funcs.py:16-19,90)
    first = df.columns[0]
    target = INITIAL_COL.get(data_type)
    if target and first != target:
        df = df.withColumnRenamed(first, target)
    data_cols = df.columns

    df = normalize_cells(lineage_from_filename(df), data_cols)
    # blank line: every data cell null after cleaning — marked here, below
    # the window, as one column the filter above it reads
    df = df.selectExpr("*", f"coalesce({', '.join(map(ident, data_cols))}) IS NULL AS _blank")
    # drop the per-file label row (reference skips physical row 2,
    # bronze_funcs.py:91-92) and the blank lines, in one filter
    w = W.partitionBy("filename").orderBy(F.monotonically_increasing_id())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where("_rn > 1 AND NOT _blank")
        .drop("_rn", "_blank")
    )
