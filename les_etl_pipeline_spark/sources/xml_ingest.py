"""EDW deal-details XML ingest (S2/S5, /root/reference/src/
les_etl_pipeline/generate_deal_details_bronze.py:24-49,77-144).

Each deal publishes ONE small XML with scalar deal metadata — a
1-row-per-submission table. Parsing stays on the driver by design
(SURVEY.md §2.1 S5: "driver lxml (1 row, fine)"); for bulk XML corpora
the spark-xml data source would replace this, but a per-deal metadata file
is not a scale surface.

Layout semantics reproduced:
- scalar children -> columns; namespace-stripped tags
- ISIN list -> ';'-joined string (legacy view) — expose_isin_array adds
  the proper ArrayType variant (SURVEY.md §1.2)
- Country / DealVisibleToOrg / DealVisibleToUser dropped
- first Submissions child inlined, minus MetricData / IsProvisional /
  IsRestructured
- EDCode -> ed_code; '' -> NULL
"""

from __future__ import annotations

import glob
import os
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.literal_df import local_df

_DROP_DEAL = {"Country", "DealVisibleToOrg", "DealVisibleToUser", "Submissions", "ISIN"}
_DROP_SUBMISSION = {"MetricData", "IsProvisional", "IsRestructured"}


def list_deal_xml(prefix: str, file_key: str) -> list[str]:
    """S2 discovery: the .xml files under the prefix whose names contain
    file_key, sorted. The reference ran one deal per job and required
    exactly one match (generate_deal_details_bronze.py:24-49); here one
    batch loads every matching deal."""
    return [
        p
        for p in sorted(glob.glob(os.path.join(prefix, "**", "*.xml"), recursive=True))
        if file_key in os.path.basename(p)
    ]


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_deal_xml(path: str) -> dict[str, str | None]:
    """Walk the fixed EDW layout into one flat row dict."""
    root = ET.parse(path).getroot()
    row: dict[str, str | None] = {}
    isins: list[str] = []
    submissions = None
    for child in root:
        name = _localname(child.tag)
        if name == "ISIN":
            isins = [(c.text or "") for c in child] or ([child.text] if child.text else [])
            continue
        if name == "Submissions":
            submissions = child
            continue
        if name in _DROP_DEAL:
            continue
        row[name] = child.text
    row["ISIN"] = ";".join(i for i in isins if i)
    if submissions is not None and len(submissions):
        first = submissions[0]
        for sub in first:
            name = _localname(sub.tag)
            if name in _DROP_SUBMISSION:
                continue
            row[name] = sub.text
    if "EDCode" in row:
        row["ed_code"] = row.pop("EDCode")
    return {k: (None if v == "" else v) for k, v in row.items()}


def read_deal_details(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """One row per XML file, all columns StringType (bronze contract).

    The parsed rows become a LocalRelation (local_df): no Python worker
    runs, and projections and collects over the frame (the bronze stage
    reads its partition keys back) are answered on the driver."""
    if isinstance(paths, str):
        paths = [paths]
    rows = [parse_deal_xml(p) for p in paths]
    cols = sorted({k for r in rows for k in r})
    data = [tuple(r.get(c) for c in cols) for r in rows]
    schema = ", ".join(f"`{c}` string" for c in cols)
    return local_df(spark, data, schema)


def expose_isin_array(df: DataFrame) -> DataFrame:
    """ArrayType view of the legacy ';'-joined ISIN column."""
    return df.withColumn("ISIN_array", F.split(F.col("ISIN"), ";"))
