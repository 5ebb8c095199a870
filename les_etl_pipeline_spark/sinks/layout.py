"""Write-time layout optimization: z-order clustered parquet.

The 100 TB payoff of `functions/zorder.py`: cluster the rows by the
Morton key at WRITE time so every later scan that filters either
dimension prunes parquet row groups via their min/max zone maps.
`repartitionByRange` on the key gives globally disjoint per-file key
ranges (a total range partitioning), `sortWithinPartitions` orders rows
inside each file so row-group stats are narrow too. This is the same
mechanism as Delta/Iceberg `OPTIMIZE ZORDER BY`, expressed with stock
Spark writers — no table format required.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.zorder import morton_key


def write_zordered(
    df: DataFrame,
    x: Column,
    y: Column,
    path: str,
    bits: int = 8,
    n_files: int = 8,
    key_col: str = "zkey",
) -> None:
    """Write ``df`` as parquet clustered by the Morton interleave of the
    two (non-negative integer) dimension columns. The key column is kept
    in the output so readers — and tests — can see the per-file /
    per-row-group key ranges that make skipping work; a production
    writer could drop it and rely on the dimension columns' own stats,
    which the clustering tightens just the same."""
    (
        df.withColumn(key_col, morton_key(x, y, bits))
        .repartitionByRange(n_files, F.col(key_col))
        .sortWithinPartitions(key_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark,
    path: str,
    target_files: int,
    sort_col: str | None = None,
) -> int:
    """Small-file compaction — the nightly operational chore of any
    streaming/append lakehouse: thousands of per-micro-batch files make
    every scan pay per-file open/footer costs and starve the driver's
    file index. Reads the directory, rewrites it as ``target_files``
    files (range-partitioned and sorted on ``sort_col`` when given, so
    compaction doubles as a clustering pass; plain coalesce otherwise),
    and swaps it in with ``atomic.replace_dir`` (a crash between its
    renames is repaired by the next call). Returns the resulting file
    count. On a table format (Delta/Iceberg)
    this is OPTIMIZE/rewrite_data_files; this is the stock-writer form
    for plain parquet directories the reference's bronze layer uses."""
    import os

    from .atomic import replace_dir

    path = path.rstrip("/")
    df = spark.read.parquet(path)
    if sort_col is not None:
        out = df.repartitionByRange(target_files, F.col(sort_col)).sortWithinPartitions(
            sort_col
        )
    else:
        out = df.coalesce(target_files)
    replace_dir(out, path)
    return len([f for f in os.listdir(path) if f.endswith(".parquet")])
