"""CLI stage dispatcher — the reference's entry point re-expressed
(/root/reference/src/les_main.py:54-202: argparse -> stage dispatch ->
job), minus the per-deal Dataproc process boundary: one Spark app handles
all deals via `part` partitioning.

    python -m les_etl_pipeline_spark.cli --stage-name bronze_assets \
        --raw-prefix ./raw --output ./lake/bronze_assets
    python -m les_etl_pipeline_spark.cli --stage-name silver_assets \
        --bronze-path ./lake/bronze_assets --output ./lake/silver
    python -m les_etl_pipeline_spark.cli --stage-name query \
        --query q1_pricing_summary --warehouse /root/testdata/sf0.01
"""

from __future__ import annotations

import argparse
import sys

from .engine import Engine
from .sources.xml_ingest import list_deal_xml

BRONZE_STAGES = {"bronze_assets", "bronze_bond_info", "bronze_deal_details"}
SILVER_STAGES = {"silver_assets", "silver_bond_info", "silver_deal_details"}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument(
        "--stage-name",
        required=True,
        choices=sorted(BRONZE_STAGES | SILVER_STAGES | {"query", "list-queries"}),
    )
    p.add_argument("--raw-prefix", help="raw input dir (bronze stages)")
    p.add_argument("--bronze-path", help="bronze table path (silver stages)")
    p.add_argument("--output", help="output path/dir")
    p.add_argument("--file-key", default="", help="substring filter on file names")
    p.add_argument("--part", help="restrict silver stage to one part key")
    p.add_argument("--ingestion-date", default="")
    p.add_argument("--query", help="registered query name (query stage)")
    p.add_argument("--warehouse", help="warehouse dir for query stage")
    a = p.parse_args(argv)

    if a.stage_name == "list-queries":  # no SparkSession needed
        for name in Engine.queries():
            print(name)
        return 0

    eng = Engine(warehouse=a.warehouse)
    if a.stage_name == "query":
        if not a.query:
            p.error("--query required for stage 'query'")
        if a.query not in eng.queries():
            print(
                f"unknown query {a.query!r}; see --stage-name list-queries",
                file=sys.stderr,
            )
            return 2
        eng.run(a.query).show(50, truncate=False)
        return 0

    if a.stage_name in BRONZE_STAGES:
        if not a.raw_prefix or not a.output:
            p.error("--raw-prefix and --output required for bronze stages")
        if a.stage_name == "bronze_deal_details":
            out = eng.bronze_deal_details(list_deal_xml(a.raw_prefix, a.file_key), a.output)
        else:
            fn = eng.bronze_assets if a.stage_name == "bronze_assets" else eng.bronze_bond_info
            out = fn(a.raw_prefix, a.output, file_key=a.file_key,
                     ingestion_date=a.ingestion_date)
        if out is None:
            print("no input files found", file=sys.stderr)
            return 1
        return 0

    # silver stages
    if not a.bronze_path or not a.output:
        p.error("--bronze-path and --output required for silver stages")
    fn = {
        "silver_assets": eng.silver_assets,
        "silver_bond_info": eng.silver_bond_info,
        "silver_deal_details": eng.silver_deal_details,
    }[a.stage_name]
    fn(a.bronze_path, a.output, part=a.part)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
