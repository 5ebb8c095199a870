"""End-to-end bronze/silver pipelines — the reference's five stage jobs
(les_main.py:77-121 dispatcher -> generate_bronze_tables /
generate_deal_details_bronze / generate_*_silver) collapsed into library
calls on one SparkSession (SURVEY.md §3: the per-deal Dataproc-batch
boundary disappears; `part` partitioning provides the same isolation).

Each stage is one read -> transform -> write over parquet:
- bronze: all deals/files as ONE partitioned DataFrame job (not a driver
  loop over files with per-file createDataFrame) -> SCD2 stamp -> merge
  with the existing table (operators/scd2.py; the reference's
  perform_scd2 was dead) -> partitioned write. Only the batch's
  partitions are listed, merged and rewritten: `part` is a function of
  (ed_code, pcd), both in every merge key, so an incoming row can only
  match old rows of its own partition, and dynamic partition overwrite
  leaves every other partition's files alone. The run ledger is read
  once to skip done files and gains one dir per batch, both keyed on
  the file names, so it never re-scans the input.
- silver: current snapshot -> validation flags, persisted once -> ONE
  aggregate for the QC counters (it also fills the cache) -> the
  qc_metrics row, the quarantine (if any row is bad) and the cast topic
  tables (if any row is good), written concurrently. The reference
  recomputed its Python validation pass per consumer and probed the bad
  frame for emptiness before writing; here every consumer reads the one
  validated frame and the counts replace the probe.
- driver-side rows (ledger, QC counters, deal XML) are LocalRelations
  (functions.literal_df.local_df): no stage forks a Python worker
- writes fail loudly (no retry-swallow)
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel
from pyspark.util import inheritable_thread_target

from . import schemas
from .functions.literal_df import local_df
from .operators import scd2 as scd2_ops
from .operators.cast_engine import cast_to_datatype
from .operators.normalize import ident, key_from_filename, part_key, part_name, scd2_stamp
from .operators.validation import profile_data, split_flagged
from .operators.vertical import range_columns, topic_tables
from .sinks.writers import RunLedger, write_partitioned, write_quarantine
from .sources.csv_ingest import list_csv_files, read_edw_csv
from .sources.xml_ingest import read_deal_details


def _read_parts(spark: SparkSession, table: str, parts: set[str | None]) -> DataFrame | None:
    """The partitions ``parts`` of the bronze table at ``table`` that
    exist, or None. Only their directories (named as Spark's writer names
    them) are listed, so a concurrent load of other deals, replacing other
    partitions' directories, cannot fail this read."""
    catalog = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    dirs = [os.path.join(table, catalog.getPartitionPathString("part", p)) for p in parts]
    dirs = [d for d in dirs if os.path.isdir(d)]
    return spark.read.option("basePath", table).parquet(*dirs) if dirs else None


def _stamp_merge_write(
    spark: SparkSession,
    df: DataFrame,
    payload: list[str],
    out_path: str,
    data_type: str,
    parts: set[str | None],
) -> DataFrame | None:
    """SCD2-stamp ``df`` with a checksum over ``payload`` (change
    detection), merge it into the batch's partitions ``parts`` of the
    bronze table at ``out_path`` (keyed on schemas.MERGE_KEYS — see note
    there), and write those partitions. A batch none of whose partitions
    exists is only deduped, as the merge dedupes its batch. Returns the
    partitions as written (None if the batch had no rows): the merged
    plan would re-read files the overwrite replaced, and re-stamp."""
    stamped = scd2_stamp(df, payload)
    old = _read_parts(spark, out_path, parts)
    primary = schemas.MERGE_KEYS[data_type]
    write_partitioned(scd2_ops.scd2_merge(old, stamped, primary) if old is not None
                      else scd2_ops.one_row_per_key(stamped, primary), out_path)
    return _read_parts(spark, out_path, parts)


def _current(
    spark: SparkSession, bronze_path: str, part: str | None, cast_map: dict
) -> DataFrame:
    """The bronze table's current rows, or only partition ``part``'s if
    given: then only that partition's directory is listed (``_read_parts``),
    so a concurrent load of other deals cannot fail the read. A part that
    the table does not hold gives an empty snapshot of the lineage and
    ``cast_map`` columns, all strings as at bronze."""
    bronze = (spark.read.parquet(bronze_path) if part is None
              else _read_parts(spark, bronze_path, {part}))
    if bronze is None:
        if not os.path.isdir(bronze_path):
            raise FileNotFoundError(f"no bronze table at {bronze_path!r}")
        cols = dict.fromkeys([*schemas.LINEAGE_COLS, *cast_map, "part"])
        return local_df(spark, [], ", ".join(f"{ident(c)} string" for c in cols))
    return scd2_ops.current_snapshot(bronze)


def bronze_csv(
    spark: SparkSession,
    raw_prefix: str,
    out_path: str,
    data_type: str = "assets",
    file_key: str = "",
    ingestion_date: str = "",
    ledger: RunLedger | None = None,
) -> DataFrame | None:
    """Bronze load for assets/bond_info: discover -> distributed read ->
    normalize -> SCD2 stamp -> merge with the batch's partitions of the
    existing table -> partitioned write of those partitions."""
    keys = {p: key_from_filename(p) for p in list_csv_files(raw_prefix, file_key, data_type)}
    tracked = ledger is not None and bool(ingestion_date)
    if keys and tracked:
        # S3/O4 idempotence guard: skip files whose (ed_code, pcd) already
        # ran this date — keying on ed_code alone would wrongly skip a
        # later file for the same deal with a new pool-cutoff date
        done = {
            (r["ed_code"], r["pcd"])
            for r in ledger.entries(data_type)
            .where(F.col("ingestion_date") == ingestion_date)
            .collect()
        }
        keys = {p: k for p, k in keys.items() if k not in done}
    if not keys:
        return None
    df = read_edw_csv(spark, list(keys), data_type)
    written = _stamp_merge_write(
        spark, df, sorted(c for c in df.columns if c != "filename"), out_path, data_type,
        {part_name(*k) for k in keys.values()},
    )
    if tracked:
        ledger.record(data_type, ingestion_date, sorted(set(keys.values())))
    return written


def bronze_deal_details(
    spark: SparkSession, xml_paths: list[str], out_path: str
) -> DataFrame | None:
    """Bronze load for deal_details XML: parse -> stamp -> merge -> write
    (the path where the reference's perform_scd2 was dead, §2.9).
    Returns None, writing nothing, when ``xml_paths`` is empty."""
    if not xml_paths:
        return None
    df = read_deal_details(spark, xml_paths).withColumn("pcd", F.col("PoolCutOffDate"))
    # a projection of a LocalRelation: collected on the driver, no job
    parts = {r[0] for r in df.select(part_key()).collect()}
    return _stamp_merge_write(spark, df, sorted(df.columns), out_path, "deal_details", parts)


def _write_all(spark: SparkSession, writes: list[Callable[[], None]]) -> None:
    """Run independent writes concurrently, one thread each; every thread
    inherits the caller's job group and tags. Waits for all of them, then
    re-raises the first failure."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(w)) for w in writes]
    for f in futures:
        f.result()


_QC_SCHEMA = "data_type string, n_rows long, n_bad long, n_good long"


def _silver(
    spark: SparkSession,
    bronze_path: str,
    out_dir: str,
    data_type: str,
    cast_map: dict,
    rules: dict,
    primary: list[str],
    ranges: dict[str, tuple[str, int, int]],
    part: str | None = None,
) -> dict[str, DataFrame]:
    current = _current(spark, bronze_path, part, cast_map)
    flagged = profile_data(current, rules, strict_columns=False,
                           lineage_cols=schemas.LINEAGE_COLS)
    # one validation pass feeds the counters, the quarantine and every topic
    flagged = flagged.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # the QC counters: one aggregate over every row, which also fills
        # the cache the writes below read
        n_rows, n_bad = flagged.agg(F.count(F.lit(1)), F.count_if(~F.col("flag"))).first()
        n_good = n_rows - n_bad
        qc = local_df(spark, [(data_type, n_rows, n_bad, n_good)], _QC_SCHEMA)
        writes = [partial(qc.write.mode("overwrite").parquet,
                          os.path.join(out_dir, "qc_metrics", data_type))]
        good, bad = split_flagged(flagged)
        if n_bad:
            writes.append(partial(write_quarantine, bad,
                                  os.path.join(out_dir, "dirty_dumps", data_type)))
        out = {}
        if n_good:
            typed = cast_to_datatype(good, cast_map)
            topics = {
                name: range_columns(prefix, lo, hi, typed.columns)
                for name, (prefix, lo, hi) in ranges.items()
            }
            present_primary = [c for c in primary if c in typed.columns]
            out = topic_tables(typed, present_primary, topics)
            writes += [partial(write_partitioned, tdf, os.path.join(out_dir, data_type, name))
                       for name, tdf in out.items()]
        _write_all(spark, writes)
        return out
    finally:
        flagged.unpersist()


def silver_assets(spark, bronze_path, out_dir, part=None):
    return _silver(
        spark, bronze_path, out_dir, "assets",
        schemas.ASSET_COLUMNS, schemas.ASSET_RULES,
        schemas.ASSET_PRIMARY, schemas.ASSET_TOPIC_RANGES, part,
    )


def silver_bond_info(spark, bronze_path, out_dir, part=None):
    return _silver(
        spark, bronze_path, out_dir, "bond_info",
        schemas.BOND_COLUMNS, schemas.BOND_RULES,
        schemas.BOND_PRIMARY, schemas.BOND_TOPIC_RANGES, part,
    )


def silver_deal_details(spark, bronze_path, out_dir, part=None):
    """Deal-details silver: cast + dedup (no topic split — one narrow
    table, generate_deal_details_silver.py:96-113)."""
    cast_map = schemas.DEAL_DETAILS_COLUMNS
    typed = cast_to_datatype(_current(spark, bronze_path, part, cast_map), cast_map)
    out = typed.dropDuplicates(["ed_code", "PoolCutOffDate"])
    write_partitioned(out, os.path.join(out_dir, "deal_details"))
    return out
