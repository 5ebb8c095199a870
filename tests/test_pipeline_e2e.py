"""Golden end-to-end tests: EDW-style fixtures through bronze -> silver
(SURVEY.md §5.2), pinning ingest normalization, lineage, SCD2 stamping,
validation quarantine, cast maps, and topic vertical partitioning."""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from les_etl_pipeline_spark import pipelines, schemas
from les_etl_pipeline_spark.sinks.writers import RunLedger
from les_etl_pipeline_spark.sources.csv_ingest import list_csv_files, read_edw_csv
from les_etl_pipeline_spark.sources.xml_ingest import (
    expose_isin_array,
    parse_deal_xml,
    read_deal_details,
)

from .fixtures import ASSET_HEADER, DEFAULT_ASSET_ROWS, write_asset_csv, write_deal_xml


@pytest.fixture()
def raw_dir(tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    write_asset_csv(str(d), "LESIT01", (2023, 6, 30), DEFAULT_ASSET_ROWS)
    write_asset_csv(str(d), "LESIT02", (2023, 7, 31), DEFAULT_ASSET_ROWS[:2])
    return str(d)


def test_csv_discovery_excludes_labeled(tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    keep = write_asset_csv(str(d), "LESIT01", (2023, 6, 30), DEFAULT_ASSET_ROWS[:1])
    labeled = os.path.join(str(d), "LESIT01_2023_06_30_Labeled.csv")
    os.rename(write_asset_csv(str(d), "X", (2023, 6, 30), DEFAULT_ASSET_ROWS[:1]), labeled)
    found = list_csv_files(str(d), data_type="assets")
    assert keep in found and labeled not in found


def test_ingest_normalization_and_lineage(spark, raw_dir):
    df = read_edw_csv(spark, list_csv_files(raw_dir), "assets")
    rows = {(r["ed_code"], r["AL5"]): r for r in df.collect()}
    # header first cell renamed to AL1; label row and blank row skipped
    assert "AL1" in df.columns
    assert len(rows) == 5  # 3 good-ish + 2 from second file
    r = rows[("LESIT01", "ls-1")]
    # lower/trim applied; lineage parsed from filename
    assert r["AL3"] == "acme servicing"
    assert r["AL7"] == "y"
    assert r["pcd"] == "2023-06-30"
    assert r["filename"].startswith("LESIT01_2023_06_30")
    # null markers: ND5 -> None, 'No Collateral' -> None, '' -> None
    assert rows[("LESIT01", "ls-2")]["AL18"] is None
    assert rows[("LESIT01", "ls-3")]["AL3"] is None
    assert rows[("LESIT01", "ls-3")]["AL56"] is None


def test_bronze_to_silver_e2e(spark, raw_dir, tmp_path):
    bronze_path = str(tmp_path / "bronze_assets")
    out_dir = str(tmp_path / "silver")
    ledger = RunLedger(spark, str(tmp_path / "ledger"))

    stamped = pipelines.bronze_csv(
        spark, raw_dir, bronze_path, "assets",
        ingestion_date="2023-08-01", ledger=ledger,
    )
    # SCD2 stamping (F1-F6) + part key
    b = spark.read.parquet(bronze_path)
    assert {"valid_from", "valid_to", "iscurrent", "checksum", "part"} <= set(b.columns)
    assert b.where(F.col("iscurrent") == 1).count() == 5
    parts = {r["part"] for r in b.select("part").distinct().collect()}
    assert parts == {"LESIT01_20230630", "LESIT02_20230731"}
    # ledger idempotence marker recorded per deal, in one append
    marks = {(r["ingestion_date"], r["ed_code"], r["pcd"])
             for r in ledger.entries("assets").collect()}
    assert marks == {("2023-08-01", "LESIT01", "2023-06-30"),
                     ("2023-08-01", "LESIT02", "2023-07-31")}

    topics = pipelines.silver_assets(spark, bronze_path, out_dir)
    # quarantine captured the AL56-required violation (1 bad row per file-1)
    bad = spark.read.parquet(os.path.join(out_dir, "dirty_dumps", "assets"))
    assert bad.count() == 1
    assert "AL56.required" in bad.collect()[0]["qc_errors"]
    # typed silver topic table, vertically partitioned + deduped
    lease = spark.read.parquet(os.path.join(out_dir, "assets", "lease_info"))
    assert lease.schema["AL30"].dataType.typeName() == "double"
    assert lease.schema["AL1"].dataType.typeName() == "date"
    al30 = {r["AL30"] for r in lease.select("AL30").collect()}
    assert al30 == {7.25, 1.5}
    # QC accounting from the one aggregate over the validated frame
    qc = spark.read.parquet(os.path.join(out_dir, "qc_metrics", "assets")).collect()[0]
    n_current = b.where(F.col("iscurrent") == 1).count()
    assert (qc["n_rows"], qc["n_bad"]) == (n_current, 1)
    assert qc["n_good"] == n_current - 1


def test_bronze_rerun_idempotent(spark, raw_dir, tmp_path):
    bronze_path = str(tmp_path / "bronze_assets")
    pipelines.bronze_csv(spark, raw_dir, bronze_path, "assets")
    first = spark.read.parquet(bronze_path)
    n1 = first.count()
    cur1 = first.where(F.col("iscurrent") == 1).count()
    # re-run the same batch: SCD2 merge must be a no-op (same checksums)
    pipelines.bronze_csv(spark, raw_dir, bronze_path, "assets")
    again = spark.read.parquet(bronze_path)
    assert again.count() == n1
    assert again.where(F.col("iscurrent") == 1).count() == cur1


def test_deal_details_xml(spark, tmp_path):
    p = write_deal_xml(str(tmp_path), "LESIT09")
    row = parse_deal_xml(p)
    # drops + inline-first-submission + ISIN join + rename
    assert row["ed_code"] == "LESIT09"
    assert "Country" not in row and "MetricData" not in row
    assert row["ISIN"] == "IT0001;IT0002"
    assert row["PoolCutOffDate"] == "2023-06-30"  # first submission only
    assert row["NumberOfActiveAssets"] == "1042"

    df = read_deal_details(spark, [p])
    assert df.count() == 1
    arr = expose_isin_array(df).collect()[0]["ISIN_array"]
    assert arr == ["IT0001", "IT0002"]

    out = pipelines.bronze_deal_details(spark, [p], str(tmp_path / "bronze_dd"))
    got = out.collect()[0]
    assert got["part"] == "LESIT09_20230630"

    silver = pipelines.silver_deal_details(
        spark, str(tmp_path / "bronze_dd"), str(tmp_path / "silver")
    )
    srow = silver.collect()[0]
    assert srow["DealVersion"] == 3
    assert srow["DealSize"] == 500000000.0
    assert srow["IsActiveDeal"] is True


def test_bronze_deal_details_without_input_returns_none(spark, tmp_path):
    """No XML in: like ``bronze_csv`` with no file, the stage returns None
    and writes nothing."""
    out = tmp_path / "bronze_dd"
    assert pipelines.bronze_deal_details(spark, [], str(out)) is None
    assert not out.exists()


def test_transliteration_udf(spark):
    from les_etl_pipeline_spark.operators.normalize import transliterate_ascii

    df = spark.createDataFrame(
        [("café münchen",), ("﻿test\0ed",), (None,), ("plain",)], "s string"
    )
    out = [r["t"] for r in df.select(transliterate_ascii("s").alias("t")).collect()]
    assert out == ["cafe munchen", "tested", None, "plain"]


def test_null_marker_row_is_blank_and_label_row_is_row_two(spark, tmp_path):
    """A data row whose every cell is a null marker (ND codes, blanks, 'No
    Collateral') is dropped as a blank line, and the label row is dropped
    by position (physical row 2) even when it is itself all null markers
    and so blank too: blank lines must not be removed before the label
    row is counted."""
    d = tmp_path / "rawblank"
    d.mkdir()
    markers = ["ND1", "", " No Collateral ", "ND", "  ", "ND7", "", "", "No Collateral"]
    write_asset_csv(str(d), "LESIT05", (2023, 6, 30), [
        DEFAULT_ASSET_ROWS[0], markers, DEFAULT_ASSET_ROWS[1],
    ])
    path = os.path.join(str(d), "LESIT06_2023_06_30_assets.csv")
    with open(path, "w", encoding="utf-8") as f:
        f.write(",".join(ASSET_HEADER) + "\n")
        f.write(",".join(markers) + "\n")  # the label row, blank
        f.write(",".join(DEFAULT_ASSET_ROWS[0]) + "\n")
        f.write(",".join(markers) + "\n")
    got = sorted(
        (r["ed_code"], r["AL5"])
        for r in read_edw_csv(spark, list_csv_files(str(d)), "assets").collect()
    )
    assert got == [("LESIT05", "ls-1"), ("LESIT05", "ls-2"), ("LESIT06", "ls-1")]


def test_permissive_malformed_rows(spark, tmp_path):
    """S4 bad-line tolerance: PERMISSIVE parsing null-fills short rows and
    truncates long rows (the reference's csv.reader + truncation at
    bronze_funcs.py:93-96 behaves the same)."""
    d = tmp_path / "raw2"
    d.mkdir()
    path = d / "LESIT03_2023_06_30_assets.csv"
    path.write_text(
        'AL1,AL2,AL3\n'
        'lbl1,lbl2,lbl3\n'
        '2023-06-30,pool-1,servicer\n'
        '2023-06-30,short\n'
        'x,y,z,extra,cols\n'
    )
    rows = read_edw_csv(spark, [str(path)], "assets").collect()
    assert len(rows) == 3
    by_al2 = {r["AL2"]: r for r in rows}
    assert by_al2["pool-1"]["AL3"] == "servicer"
    assert by_al2["short"]["AL3"] is None   # short row null-filled
    assert by_al2["y"]["AL3"] == "z"        # long row truncated to header width


def test_bronze_ledger_skip(spark, raw_dir, tmp_path):
    """S3/O4: a (date, deal) already in the ledger is not re-processed."""
    ledger = RunLedger(spark, str(tmp_path / "ledger"))
    out = str(tmp_path / "bronze")
    pipelines.bronze_csv(spark, raw_dir, out, "assets",
                         ingestion_date="2023-08-01", ledger=ledger)
    # second run same date: every deal ledgered -> skipped entirely
    res = pipelines.bronze_csv(spark, raw_dir, out, "assets",
                               ingestion_date="2023-08-01", ledger=ledger)
    assert res is None
    # different date: processes again (and SCD2-merges as a no-op)
    res2 = pipelines.bronze_csv(spark, raw_dir, out, "assets",
                                ingestion_date="2023-08-02", ledger=ledger)
    assert res2 is not None


def test_wide_asset_all_topics(spark, tmp_path):
    """Full-width fixture exercises all six topic tables (P9 ranges) with
    typed columns in each."""
    from .fixtures import write_wide_asset_csv

    raw = tmp_path / "rawwide"
    raw.mkdir()
    write_wide_asset_csv(str(raw), "LESIT77", (2023, 6, 30))
    bronze = str(tmp_path / "bronze")
    out = str(tmp_path / "silver")
    pipelines.bronze_csv(spark, str(raw), bronze, "assets")
    topics = pipelines.silver_assets(spark, bronze, out)
    assert set(topics) == {
        "lease_info", "lease_features", "interest_rate",
        "financial_info", "performance_info", "collateral_info",
    }
    feats = spark.read.parquet(os.path.join(out, "assets", "lease_features"))
    # AL50 ('2019', year-only): Spark's default to_date parser (which the
    # reference's F8 also used) accepts bare years -> 2019-01-01
    assert feats.schema["AL50"].dataType.typeName() == "date"
    import datetime
    assert {r["AL50"] for r in feats.select("AL50").collect()} == {datetime.date(2019, 1, 1)}
    assert feats.schema["AL55"].dataType.typeName() == "double"
    fin = spark.read.parquet(os.path.join(out, "assets", "financial_info"))
    assert {r["AL83"] for r in fin.select("AL83").collect()} == {300.0, 301.0, 302.0, 303.0}


def test_bond_info_e2e(spark, tmp_path):
    """bond_info bronze -> silver: BL1 header rename, topic split
    (bond/transaction/tranche), validation quarantine."""
    from .fixtures import write_bond_csv

    raw = tmp_path / "rawbond"
    raw.mkdir()
    write_bond_csv(str(raw), "BNDIT01", (2023, 6, 30))
    bronze = str(tmp_path / "bronze_bond")
    out = str(tmp_path / "silver")
    pipelines.bronze_csv(spark, str(raw), bronze, "bond_info")
    b = spark.read.parquet(bronze)
    assert "BL1" in b.columns  # first header cell force-renamed
    assert b.where(F.col("iscurrent") == 1).count() == 3

    topics = pipelines.silver_bond_info(spark, bronze, out)
    assert set(topics) == {"bond_info", "transaction_info", "tranche_info"}
    bad = spark.read.parquet(os.path.join(out, "dirty_dumps", "bond_info"))
    # row 3 violates: BL19 required (empty), BL32 enum (99),
    # BL38 below min (2011), BL39 required (empty), BL13 number ('x')
    assert bad.count() == 1
    qc = bad.collect()[0]["qc_errors"]
    for err in ("BL19.required", "BL32.allowed", "BL38.min", "BL39.required", "BL13.number"):
        assert err in qc, (err, qc)
    tr = spark.read.parquet(os.path.join(out, "bond_info", "tranche_info"))
    assert tr.schema["BL32"].dataType.typeName() == "string"
    assert {r["BL25"] for r in tr.select("BL25").collect()} == {"tranche-a", "tranche-b"}
    bi = spark.read.parquet(os.path.join(out, "bond_info", "bond_info"))
    assert bi.schema["BL11"].dataType.typeName() == "double"
    vals = {r["BL11"] for r in bi.select("BL11").collect()}
    assert vals == {12345.67, None}  # ND1 -> NULL at ingest


def test_bond_reload_merges_each_tranche(spark, tmp_path):
    """The tranches of one bond report share report date and issuer: a
    re-load with one tranche changed closes that tranche's version and
    keeps the other two, instead of collapsing the report to one row."""
    from .fixtures import write_bond_csv

    raw = tmp_path / "rawbond"
    raw.mkdir()
    path = write_bond_csv(str(raw), "BNDIT01", (2023, 6, 30))
    bronze = str(tmp_path / "bronze_bond")
    pipelines.bronze_csv(spark, str(raw), bronze, "bond_info")
    with open(path, encoding="utf-8") as f:
        body = f.read().replace("0.05", "0.06")  # tranche-b's BL13
    with open(path, "w", encoding="utf-8") as f:
        f.write(body)
    pipelines.bronze_csv(spark, str(raw), bronze, "bond_info")
    got = sorted((r["BL25"], r["BL13"], r["iscurrent"])
                 for r in spark.read.parquet(bronze).collect())
    assert got == [("tranche-a", "0.08", 1), ("tranche-b", "0.05", 0),
                   ("tranche-b", "0.06", 1), ("tranche-c", "x", 1)]


def test_silver_part_reads_only_its_partition_dir(spark, raw_dir, tmp_path):
    """A silver run for one part lists only that partition's directory, so
    a bronze load of another deal, replacing other partitions, cannot fail
    it. A part the table does not hold is an empty snapshot: silver still
    writes a zero QC row."""
    bronze = str(tmp_path / "bronze")
    pipelines.bronze_csv(spark, raw_dir, bronze, "assets")
    part_dir = os.path.join(bronze, "part=LESIT01_20230630")
    cur = pipelines._current(spark, bronze, "LESIT01_20230630", schemas.ASSET_COLUMNS)
    files = cur.inputFiles()
    assert files and all(os.path.dirname(urlparse(f).path) == part_dir for f in files)
    assert cur.count() == 3

    out = str(tmp_path / "silver")
    assert pipelines.silver_assets(spark, bronze, out, part="LESIT09_20230630") == {}
    qc = spark.read.parquet(os.path.join(out, "qc_metrics", "assets")).collect()
    assert [tuple(r) for r in qc] == [("assets", 0, 0, 0)]
    with pytest.raises(FileNotFoundError):
        pipelines.silver_assets(spark, str(tmp_path / "nowhere"), out, part="LESIT01_20230630")


def test_silver_qc_counts_exact_across_partitions(spark, tmp_path):
    """The QC counters count every row of a multi-partition bronze, with
    bad rows in several partitions: no probe action may fill them with
    the partial counts of an early exit."""
    raw = tmp_path / "rawmulti"
    raw.mkdir()
    n_deals, per_deal, bad_at = 5, 40, (3, 17, 31)

    def row(d, j):  # DEFAULT_ASSET_ROWS[2] lacks the required AL56
        base = DEFAULT_ASSET_ROWS[2 if j in bad_at else 0]
        return [*base[:3], f"LS-{d}-{j}", *base[4:]]  # unique AL5

    for d in range(n_deals):
        write_asset_csv(str(raw), f"LESIT{d:02d}", (2023, 6, 30),
                        [row(d, j) for j in range(per_deal)])
    bronze = str(tmp_path / "bronze")
    out = str(tmp_path / "silver")
    pipelines.bronze_csv(spark, str(raw), bronze, "assets")
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
    try:
        assert spark.read.parquet(bronze).rdd.getNumPartitions() >= 4
        pipelines.silver_assets(spark, bronze, out)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    n_rows, n_bad = n_deals * per_deal, n_deals * len(bad_at)
    qc = spark.read.parquet(os.path.join(out, "qc_metrics", "assets")).collect()[0]
    assert (qc["n_rows"], qc["n_bad"], qc["n_good"]) == (n_rows, n_bad, n_rows - n_bad)
    assert spark.read.parquet(os.path.join(out, "dirty_dumps", "assets")).count() == n_bad


def _new_executions(spark, since_id: int) -> list:
    """The SQL executions in the status store with an id above ``since_id``
    (walked from the newest, so evicted old entries do not matter)."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    execs = store.executionsList(0, n)
    out = []
    for i in reversed(range(execs.size())):
        e = execs.apply(i)
        if e.executionId() <= since_id:
            break
        out.append(e)
    return out


def _last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def test_edw_path_forks_no_python_worker(spark, raw_dir, tmp_path):
    """Ledger read and append, deal-details XML, QC row: every driver-row
    frame is a LocalRelation, so no execution scans a pickled RDD (whose
    tasks would fork Python workers)."""
    since = _last_execution_id(spark)
    bronze = str(tmp_path / "bronze")
    ledger = RunLedger(spark, str(tmp_path / "ledger"))
    pipelines.bronze_csv(spark, raw_dir, bronze, "assets",
                         ingestion_date="2023-08-01", ledger=ledger)
    xml = write_deal_xml(str(tmp_path), "LESIT01")
    pipelines.bronze_deal_details(spark, [xml], str(tmp_path / "bronze_dd"))
    pipelines.silver_assets(spark, bronze, str(tmp_path / "silver"))
    plans = [e.physicalPlanDescription() for e in _new_executions(spark, since)]
    assert len(plans) >= 5
    assert [p for p in plans if "ExistingRDD" in p] == []


def test_edw_modules_build_no_frame_from_a_python_list():
    """Source scan: the EDW write path builds driver rows with local_df
    only."""
    import ast
    import pathlib

    pkg = pathlib.Path(pipelines.__file__).parent
    files = [pkg / "pipelines.py", pkg / "sources" / "xml_ingest.py",
             *sorted((pkg / "sinks").glob("*.py"))]
    calls = [
        (f.name, node.lineno)
        for f in files
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "createDataFrame"
    ]
    assert calls == []


def _deal_rows(deal: int, n: int, changed: frozenset = frozenset()) -> list[list[str]]:
    base = DEFAULT_ASSET_ROWS[0]
    return [[*base[:3], f"LS-{deal}-{j}", *base[4:7], f"{j + (100 if j in changed else 0)}.25",
             base[8]] for j in range(n)]


def _part_files(path: str) -> dict[str, list[tuple[str, int]]]:
    return {
        part: sorted((f, os.stat(os.path.join(path, part, f)).st_mtime_ns)
                     for f in os.listdir(os.path.join(path, part)))
        for part in os.listdir(path) if part.startswith("part=")
    }


def test_pruned_merge_rewrites_only_the_batch_partitions(spark, tmp_path):
    """A day-2 batch touching 1 of 3 deals leaves the other deals' parquet
    files as they were (same names, same mtimes), and the table's rows
    equal the full-table merge's on every column but the merge
    timestamps."""
    import shutil

    from les_etl_pipeline_spark.operators.normalize import scd2_stamp
    from les_etl_pipeline_spark.operators.scd2 import scd2_merge
    from les_etl_pipeline_spark.sinks.writers import write_partitioned

    day1, day2 = tmp_path / "day1", tmp_path / "day2"
    day1.mkdir()
    day2.mkdir()
    for d in (1, 2, 3):
        write_asset_csv(str(day1), f"LESIT0{d}", (2023, 6, 30), _deal_rows(d, 6))
    # deal 2 again: rows 1 and 4 changed, one new row, the rest unchanged
    write_asset_csv(str(day2), "LESIT02", (2023, 6, 30),
                    _deal_rows(2, 7, changed=frozenset({1, 4})))
    pruned, full = str(tmp_path / "pruned"), str(tmp_path / "full")
    pipelines.bronze_csv(spark, str(day1), pruned, "assets")
    shutil.copytree(pruned, full)
    before = _part_files(pruned)
    assert len(before) == 3

    pipelines.bronze_csv(spark, str(day2), pruned, "assets")
    after = _part_files(pruned)
    touched = "part=LESIT02_20230630"
    assert {k: v for k, v in after.items() if k != touched} == {
        k: v for k, v in before.items() if k != touched}
    assert after[touched] != before[touched]

    # the full-table merge: read every partition, merge, rewrite them all
    df = read_edw_csv(spark, list_csv_files(str(day2)), "assets")
    stamped = scd2_stamp(df, sorted(c for c in df.columns if c != "filename"))
    old = spark.read.parquet(full)
    write_partitioned(
        scd2_merge(old, stamped.select(*old.columns), schemas.MERGE_KEYS["assets"]), full)

    def rows(path):
        t = spark.read.parquet(path).drop("valid_from", "valid_to")
        return sorted(tuple(r) for r in t.select(*sorted(t.columns)).collect())

    got = rows(pruned)
    assert got == rows(full)
    assert len(got) == 3 * 6 + 2 + 1  # two closed-out versions, one new row


def test_pruned_merge_keeps_history_of_a_null_part(spark, tmp_path):
    """A deal XML without a pool cutoff date has a NULL part (Hive's
    default partition): the pruned merge still reads its old rows, so a
    changed re-submission closes the old version out instead of
    replacing it."""
    out = str(tmp_path / "bronze_dd")
    for size in ("500000000.00", "600000000.00"):
        d = tmp_path / size
        d.mkdir()
        p = write_deal_xml(str(d), "LESIT09", pcd="")
        with open(p, encoding="utf-8") as f:
            xml = f.read().replace("500000000.00", size)
        with open(p, "w", encoding="utf-8") as f:
            f.write(xml)
        pipelines.bronze_deal_details(spark, [p], out)
    got = sorted((r["DealSize"], r["iscurrent"], r["part"])
                 for r in spark.read.parquet(out).collect())
    assert got == [("500000000.00", 0, None), ("600000000.00", 1, None)]


@pytest.mark.parametrize("existing", [True, False], ids=["into_existing_table", "first_table"])
def test_first_load_of_a_deal_dedupes_repeated_keys(spark, tmp_path, existing):
    """A deal's first load keeps one row per merge key, whether or not
    the table already holds other deals: a row repeated in the day-1 file
    changed on day 2 gives one closed and one current version."""
    day0, day1, day2 = tmp_path / "day0", tmp_path / "day1", tmp_path / "day2"
    for d in (day0, day1, day2):
        d.mkdir()
    write_asset_csv(str(day0), "LESIT01", (2023, 6, 30), _deal_rows(1, 3))
    rows = _deal_rows(2, 3)
    write_asset_csv(str(day1), "LESIT02", (2023, 6, 30), [*rows, rows[0]])
    write_asset_csv(str(day2), "LESIT02", (2023, 6, 30), _deal_rows(2, 3, frozenset({0})))
    out = str(tmp_path / "bronze")
    if existing:
        pipelines.bronze_csv(spark, str(day0), out, "assets")

    def versions():
        t = spark.read.parquet(out).where(F.col("AL5") == "ls-2-0")  # cells are lowercased
        return sorted(r["iscurrent"] for r in t.collect())

    pipelines.bronze_csv(spark, str(day1), out, "assets")
    assert versions() == [1]
    pipelines.bronze_csv(spark, str(day2), out, "assets")
    assert versions() == [0, 1]


def test_bronze_returns_the_partitions_as_written(spark, tmp_path):
    """The frame a bronze stage returns is the batch's partitions as
    written: collecting it after a merge reads the files the overwrite
    left (not the ones it deleted), and collecting it twice after a first
    load gives the same valid_from."""
    day1, day2 = tmp_path / "day1", tmp_path / "day2"
    day1.mkdir()
    day2.mkdir()
    for d in (1, 2):
        write_asset_csv(str(day1), f"LESIT0{d}", (2023, 6, 30), _deal_rows(d, 3))
    write_asset_csv(str(day2), "LESIT02", (2023, 6, 30), _deal_rows(2, 3, frozenset({1})))
    out = str(tmp_path / "bronze")

    def table(part=None):
        t = spark.read.parquet(out)
        t = t if part is None else t.where(F.col("part") == part)
        return sorted(tuple(r) for r in t.collect())

    first = pipelines.bronze_csv(spark, str(day1), out, "assets")
    assert sorted(tuple(r) for r in first.collect()) == table()
    assert sorted(tuple(r) for r in first.collect()) == table()
    merged = pipelines.bronze_csv(spark, str(day2), out, "assets")
    got = sorted(tuple(r) for r in merged.collect())
    assert got == table("LESIT02_20230630")
    assert len(got) == 3 + 1  # one changed row: a closed version and a new one

    xml = write_deal_xml(str(tmp_path), "LESIT09")
    dd = str(tmp_path / "bronze_dd")
    pipelines.bronze_deal_details(spark, [xml], dd)
    with open(xml, encoding="utf-8") as f:
        body = f.read().replace("500000000.00", "600000000.00")
    with open(xml, "w", encoding="utf-8") as f:
        f.write(body)
    again = pipelines.bronze_deal_details(spark, [xml], dd)
    assert sorted((r["DealSize"], r["iscurrent"]) for r in again.collect()) == [
        ("500000000.00", 0), ("600000000.00", 1)]


def test_concurrent_ledgered_loads_keep_every_ledger_row(spark, tmp_path):
    """Chaos: four threads load four deals' day-2 files into one bronze
    table with one ledger at once. Every load succeeds, the ledger holds
    one row per deal and the table holds every deal's merge: each record
    publishes its own ledger dir (appends into one dir shared a
    committer's ``_temporary`` dir), and each merge lists only its own
    deal's partition (not one another load is replacing)."""
    from concurrent.futures import ThreadPoolExecutor

    deals = (1, 2, 3, 4)
    day1 = tmp_path / "day1"
    day1.mkdir()
    for d in deals:
        write_asset_csv(str(day1), f"LESIT0{d}", (2023, 6, 30), _deal_rows(d, 4))
    out = str(tmp_path / "bronze")
    ledger = RunLedger(spark, str(tmp_path / "ledger"))
    pipelines.bronze_csv(spark, str(day1), out, "assets",
                         ingestion_date="2023-08-01", ledger=ledger)
    raws = []
    for d in deals:
        raw = tmp_path / f"day2_{d}"
        raw.mkdir()
        write_asset_csv(str(raw), f"LESIT0{d}", (2023, 6, 30), _deal_rows(d, 4, frozenset({d - 1})))
        raws.append(str(raw))

    def load(raw):
        try:
            pipelines.bronze_csv(spark, raw, out, "assets",
                                 ingestion_date="2023-08-02", ledger=ledger)
        except Exception as e:  # noqa: BLE001 — every failure is reported below
            return str(e)
        return None

    with ThreadPoolExecutor(max_workers=len(deals)) as pool:
        errors = [e for e in pool.map(load, raws, timeout=600) if e is not None]
    assert errors == []
    day2 = ledger.entries("assets").where(F.col("ingestion_date") == "2023-08-02")
    assert sorted((r["ed_code"], r["pcd"]) for r in day2.collect()) == [
        (f"LESIT0{d}", "2023-06-30") for d in deals]
    b = spark.read.parquet(out)
    assert b.count() == len(deals) * 5
    assert b.where(F.col("iscurrent") == 0).count() == len(deals)


def test_part_name_matches_part_key_over_file_names(spark, tmp_path):
    """The partition names the bronze stage derives on the driver equal
    the part column Spark computes from the scanned file names."""
    from les_etl_pipeline_spark.operators.normalize import (
        key_from_filename,
        part_key,
        part_name,
    )

    names = [
        "LESIT01_2023_06_30_assets.csv",
        "LES-IT2_1999_12_01_assets.csv",
        "LESIT03_2023_6_30_assets.csv",  # no YYYY_MM_DD: empty pcd parts
        "nodate_assets.csv",
        "Ünï.x_2024_02_29_assets.csv",
    ]
    raw = tmp_path / "names"
    raw.mkdir()
    paths = []
    for name in names:
        p = write_asset_csv(str(raw), "TMP", (2000, 1, 1), DEFAULT_ASSET_ROWS[:1])
        os.rename(p, str(raw / name))
        paths.append(str(raw / name))
    got = {
        r["filename"]: r["part"]
        for r in read_edw_csv(spark, paths, "assets")
        .select("filename", part_key().alias("part")).collect()
    }
    assert got == {os.path.basename(p): part_name(*key_from_filename(p)) for p in paths}


@pytest.fixture()
def wide_bronze(spark, tmp_path):
    """A one-deal full-width assets bronze: silver writes all six topics."""
    from .fixtures import write_wide_asset_csv

    raw = tmp_path / "rawwide"
    raw.mkdir()
    write_wide_asset_csv(str(raw), "LESIT77", (2023, 6, 30))
    bronze = str(tmp_path / "bronze")
    pipelines.bronze_csv(spark, str(raw), bronze, "assets")
    return bronze


def test_silver_write_failure_waits_for_the_other_writes(
    spark, wide_bronze, tmp_path, monkeypatch
):
    """A failing topic write makes silver raise only after every other
    write has finished, and the flagged frame is unpersisted."""
    from pyspark.storagelevel import StorageLevel

    out = str(tmp_path / "silver")
    flagged = []
    real_profile, real_write = pipelines.profile_data, pipelines.write_partitioned

    def profile(*args, **kwargs):
        flagged.append(real_profile(*args, **kwargs))
        return flagged[-1]

    finished = []

    def write(df, path):
        if path.endswith("lease_info"):
            raise RuntimeError("lease_info write failed")
        real_write(df, path)
        finished.append(os.path.basename(path))

    monkeypatch.setattr(pipelines, "profile_data", profile)
    monkeypatch.setattr(pipelines, "write_partitioned", write)
    with pytest.raises(RuntimeError, match="lease_info write failed"):
        pipelines.silver_assets(spark, wide_bronze, out)
    assert sorted(finished) == sorted(set(schemas.ASSET_TOPIC_RANGES) - {"lease_info"})
    assert os.path.isdir(os.path.join(out, "qc_metrics", "assets"))
    assert flagged[0].storageLevel == StorageLevel.NONE


def test_silver_jobs_inherit_the_callers_job_group(spark, wide_bronze, tmp_path):
    """The concurrent writes run in the caller's job group: every job
    between two marker jobs belongs to group g."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(group: str) -> list[int]:
        sc.setJobGroup(group, group)
        spark.range(10).selectExpr("sum(id)").collect()
        return tracker.getJobIdsForGroup(group)

    try:
        lo = max(marker("silver-before"))
        sc.setJobGroup("g", "silver under a caller's group")
        pipelines.silver_assets(spark, wide_bronze, str(tmp_path / "silver"))
        hi = min(marker("silver-after"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    in_group = set(tracker.getJobIdsForGroup("g"))
    assert len(in_group) >= 8  # QC aggregate + qc_metrics + 6 topic writes
    assert in_group == set(range(lo + 1, hi))
