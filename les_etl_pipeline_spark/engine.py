"""User-facing engine facade: one object giving the full query and
pipeline surface — the programmatic equivalent of everything the
reference exposes via CLI stages plus the general query surface.

    from les_etl_pipeline_spark.engine import Engine
    eng = Engine(warehouse="/root/testdata/sf0.01")
    eng.table("lineitem").where(...)         # DataFrame API
    eng.sql("SELECT ... FROM lineitem")      # SQL over registered views
    eng.run("q1_pricing_summary")            # named query from the registry
    eng.bronze_assets(raw, out)              # pipeline stages
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import catalog, pipelines
from .queries import ORACLES, QUERIES
from .session import get_spark


class Engine:
    def __init__(self, spark: SparkSession | None = None, warehouse: str | None = None):
        self.spark = spark or get_spark()
        self.warehouse = warehouse or catalog.DEFAULT_SF_DIR
        self._views_registered = False

    # -- query surface ----------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return catalog.table(self.spark, self.warehouse, name)

    def sql(self, query: str) -> DataFrame:
        if not self._views_registered:
            catalog.register_views(self.spark, self.warehouse)
            self._views_registered = True
        return self.spark.sql(query)

    def run(self, query_name: str) -> DataFrame:
        return QUERIES[query_name](self.spark, self.warehouse)

    @staticmethod
    def queries() -> list[str]:
        return sorted(QUERIES)

    @staticmethod
    def oracle(query_name: str) -> str | None:
        return ORACLES.get(query_name)

    # -- pipeline stages (reference CLI parity, les_main.py:77-121) -------
    def bronze_assets(self, raw_prefix: str, out_path: str, **kw) -> DataFrame | None:
        return pipelines.bronze_csv(self.spark, raw_prefix, out_path, "assets", **kw)

    def bronze_bond_info(self, raw_prefix: str, out_path: str, **kw) -> DataFrame | None:
        return pipelines.bronze_csv(self.spark, raw_prefix, out_path, "bond_info", **kw)

    def bronze_deal_details(self, xml_paths: list[str], out_path: str) -> DataFrame | None:
        return pipelines.bronze_deal_details(self.spark, xml_paths, out_path)

    def silver_assets(self, bronze_path: str, out_dir: str, part: str | None = None):
        return pipelines.silver_assets(self.spark, bronze_path, out_dir, part)

    def silver_bond_info(self, bronze_path: str, out_dir: str, part: str | None = None):
        return pipelines.silver_bond_info(self.spark, bronze_path, out_dir, part)

    def silver_deal_details(self, bronze_path: str, out_dir: str, part: str | None = None):
        return pipelines.silver_deal_details(self.spark, bronze_path, out_dir, part)
