"""High-water-mark incremental batch reads — CDC-lite for append-only
directories.

The complement of the RunLedger's processed-file idempotence (§2.1 S3/S8):
where the ledger tracks WHICH inputs ran, the high-water mark tracks HOW
FAR along an event-time column the pipeline has consumed. A nightly batch
job reads only rows past the stored mark, advances the mark to the max it
saw, and is idempotent under re-runs (re-reading past the same mark
returns the same delta; an empty delta leaves the mark untouched).

At 100 TB the filter `ts > hwm` is exactly the predicate that partition
pruning and parquet min/max skipping eat: when the directory is
partitioned or clustered on the time column (see sinks/layout), the
incremental read touches only new files, not the history.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.atomic import write_json


def read_high_water_mark(state_path: str) -> str | None:
    """The stored mark, or None before the first run."""
    if not os.path.exists(state_path):
        return None
    with open(state_path) as f:
        return json.load(f).get("high_water_mark")


def incremental_read(
    spark: SparkSession,
    path: str,
    ts_col: str,
    state_path: str,
) -> DataFrame:
    """Rows with ``ts_col`` strictly past the stored mark (everything on
    the first run). Call :func:`commit_high_water_mark` AFTER the batch
    succeeds — advancing the mark only on success is what makes a failed
    run replayable."""
    df = spark.read.parquet(path)
    hwm = read_high_water_mark(state_path)
    if hwm is not None:
        df = df.where(F.col(ts_col) > F.lit(hwm).cast("timestamp_ntz"))
    return df


def commit_high_water_mark(delta: DataFrame, ts_col: str, state_path: str) -> str | None:
    """Advance the mark to the delta's max event time (1-row aggregate).
    No-op on an empty delta. Returns the committed mark."""
    row = delta.agg(F.max(F.col(ts_col)).alias("m")).collect()[0]
    if row["m"] is None:
        return read_high_water_mark(state_path)
    mark = row["m"].strftime("%Y-%m-%d %H:%M:%S.%f")
    write_json(state_path, {"high_water_mark": mark})
    return mark
