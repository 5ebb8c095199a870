"""Partitioned parquet writers + run ledger.

K1-K4 (SURVEY.md §2.2) re-expressed: part-partitioned parquet writes with
dynamic partition overwrite (only written partitions replaced — the
session sets partitionOverwriteMode=DYNAMIC as the reference did,
les_main.py:42). Every pipeline reader is ``spark.read.parquet``, so the
output format is parquet only.

The reference wrapped every write in a retry-5-swallow-errors loop
(generate_bronze_tables.py:76-90 — SURVEY.md §4.2 flags it): here writes
fail loudly and rely on Spark task retries. No writer runs a probe action
of its own: the silver stage decides whether to write the quarantine from
the counts of its one QC aggregate. The writers are safe to call from
several threads at once (the silver stage runs its writes concurrently);
each one targets its own path.

The run ledger (S3/K4/O4: clean_dump markers driving idempotence) becomes
a small parquet table keyed by (data_type, ingestion_date, ed_code), one
``batch-<uuid>`` dir per processed batch published by
sinks.atomic.publish_dir, so concurrent loads never share a committer's
``_temporary`` dir. Its rows come from the driver as a LocalRelation
(functions.literal_df.local_df): no ledger write or empty read forks a
Python worker.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.literal_df import local_df
from .atomic import publish_dir

#: caps the other small-file extreme: no output file exceeds this many rows
MAX_RECORDS_PER_FILE = 5_000_000

_LEDGER_SCHEMA = "data_type string, ingestion_date string, ed_code string, pcd string"


def write_partitioned(df: DataFrame, path: str) -> None:
    """K1/K2: part-partitioned overwrite write (dynamic: replaces only the
    partitions present in df).

    Small-file control (the silent killer of 100 TB tables): rows are
    pre-shuffled onto their partition key so each Hive partition is
    written by few tasks (1 file per partition per task instead of
    tasks x partitions shards), and MAX_RECORDS_PER_FILE caps the other
    extreme."""
    (
        df.repartition(F.col("part"))
        .write.mode("overwrite")
        .partitionBy("part")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .parquet(path)
    )


def write_quarantine(bad_df: DataFrame, path: str) -> None:
    """K3: failed-validation rows with qc_errors, partitioned by part. The
    caller writes it only when it counted bad rows, so an all-clean run
    leaves no dirty dump (the reference's empty-frame gate,
    generate_asset_silver.py:85-87)."""
    write_partitioned(bad_df, path)


class RunLedger:
    """S3/K4/O4 idempotence ledger: entries/record around whole-batch
    processing, replacing the reference's clean_dump CSV blobs."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def record(
        self, data_type: str, ingestion_date: str, keys: Iterable[tuple[str, str]]
    ) -> None:
        """Publish one row per (ed_code, pcd) of a processed batch as the
        ledger's new ``batch-<uuid>`` directory, in one write."""
        rows = [(data_type, ingestion_date, ed_code, pcd) for ed_code, pcd in keys]
        df = local_df(self.spark, rows, _LEDGER_SCHEMA)
        publish_dir(df.coalesce(1), os.path.join(self.path, f"batch-{uuid.uuid4().hex}"))

    def entries(self, data_type: str) -> DataFrame:
        if not os.path.exists(self.path):
            return local_df(self.spark, [], _LEDGER_SCHEMA)
        # schema given: a ledger holding only a load's staging dir reads empty
        ledger = self.spark.read.schema(_LEDGER_SCHEMA).option("recursiveFileLookup", "true")
        return ledger.parquet(self.path).where(F.col("data_type") == data_type)
