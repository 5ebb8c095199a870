"""The CLI stage dispatcher (``python -m les_etl_pipeline_spark.cli``):
query listing, a bronze -> silver round trip, and deal-details discovery
by ``--file-key``. Stages run in-process on the test session."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from les_etl_pipeline_spark import cli, engine
from les_etl_pipeline_spark.queries import QUERIES

from .fixtures import DEFAULT_ASSET_ROWS, write_asset_csv, write_deal_xml


@pytest.fixture()
def run(spark, monkeypatch):
    """``cli.main`` with the Engine bound to the test session."""
    monkeypatch.setattr(engine, "get_spark", lambda: spark)
    return cli.main


def test_list_queries(capsys):
    assert cli.main(["--stage-name", "list-queries"]) == 0
    assert capsys.readouterr().out.splitlines() == sorted(QUERIES)


def test_bronze_assets_then_silver_assets(spark, run, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    write_asset_csv(str(raw), "LESIT01", (2023, 6, 30), DEFAULT_ASSET_ROWS)
    bronze, silver = str(tmp_path / "bronze"), str(tmp_path / "silver")
    assert run(["--stage-name", "bronze_assets", "--raw-prefix", str(raw),
                "--output", bronze]) == 0
    assert spark.read.parquet(bronze).where(F.col("iscurrent") == 1).count() == 3
    assert run(["--stage-name", "silver_assets", "--bronze-path", bronze,
                "--output", silver]) == 0
    qc = spark.read.parquet(os.path.join(silver, "qc_metrics", "assets")).collect()
    assert [tuple(r) for r in qc] == [("assets", 3, 1, 2)]
    assert os.path.isdir(os.path.join(silver, "assets", "lease_info"))
    # a prefix with no matching file loads nothing and says so
    assert run(["--stage-name", "bronze_assets", "--raw-prefix", str(raw),
                "--output", bronze, "--file-key", "LESIT09"]) == 1


def test_bronze_deal_details_honours_file_key(spark, run, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    for ed in ("LESIT01", "LESIT02"):
        write_deal_xml(str(raw), ed)
    out = str(tmp_path / "bronze_dd")
    assert run(["--stage-name", "bronze_deal_details", "--raw-prefix", str(raw),
                "--output", out, "--file-key", "LESIT02"]) == 0
    assert {r[0] for r in spark.read.parquet(out).select("ed_code").collect()} == {"LESIT02"}
    assert run(["--stage-name", "bronze_deal_details", "--raw-prefix", str(raw),
                "--output", out, "--file-key", "LESIT09"]) == 1
