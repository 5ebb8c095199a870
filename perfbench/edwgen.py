"""Seeded EDW input generator for the pipeline workloads.

Writes per-deal assets CSVs (every column of ``schemas.ASSET_COLUMNS``),
bond CSVs (every column of ``schemas.BOND_COLUMNS``) and deal-details
XMLs, with the reference file-naming contract
``{ed_code}_{YYYY}_{MM}_{DD}_{assets|bond}.csv``. Assets and bonds go
under separate prefixes: ``list_csv_files`` does not filter by data type,
so a shared directory would pull bond files into the assets bronze.

A fixed share of rows breaks one named validation rule each, so the
expected good/bad split is known without running the program. ``Layout``
records the ground truth that the output checker compares against.

The seed changes every value but no size or share, so two seeds cost the
program the same work.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

from les_etl_pipeline_spark import schemas
from pyspark.sql import types as T

#: one in BAD_EVERY asset rows breaks one rule, cycling through these
ASSET_BREAKS = (("AL56", ""), ("AL7", "x"), ("AL18", "9"), ("AL30", "abc"))
ASSET_BAD_EVERY = 25
#: one in BOND_BAD_EVERY bond rows has a non-y/n BL4 flag
BOND_BAD_EVERY = 10
#: on day 2, one in CHANGE_EVERY rows of a touched deal gets a new AL83
#: (a payload column outside every broken rule, so good/bad is unchanged;
#: new values lie above the day-1 range, so every change is a real one)
CHANGE_EVERY = 10
CHANGE_COL = "AL83"

_WORDS = ("alpha", "bravo", "delta", "echo", "gamma", "kilo", "lima", "oscar",
          "sierra", "tango", "victor", "zulu")


def _col_num(c: str) -> int:
    return int(c[2:])


def _pool(rule: dict, dtype: T.DataType, rng: np.random.Generator, n: int = 64) -> list[str]:
    """A pool of values that pass ``rule`` (mixed case: ingest lowercases)."""
    if "allowed" in rule:
        allowed = rule["allowed"]
        if allowed == ["y", "n"]:
            return ["Y", "N", "y", "n"]
        return list(allowed)
    rtype = rule.get("type")
    if rtype == "datetime" or isinstance(dtype, T.DateType):
        years = rng.integers(2013, 2030, n)
        months = rng.integers(1, 13, n)
        days = rng.integers(1, 29, n)
        return [f"{y:04d}-{m:02d}-{d:02d}" for y, m, d in zip(years, months, days)]
    if rtype == "number":
        return [f"{v:.2f}" for v in rng.uniform(0, 250_000, n)]
    return [f"{_WORDS[i % len(_WORDS)]} {w}" for i, w in enumerate(rng.integers(0, 999, n))]


@dataclass
class Deal:
    ed_code: str
    pcd: str  # YYYY-MM-DD

    @property
    def part(self) -> str:
        return f"{self.ed_code}_{self.pcd.replace('-', '')}"

    def csv_name(self, kind: str) -> str:
        return f"{self.ed_code}_{self.pcd.replace('-', '_')}_{kind}.csv"


@dataclass
class Layout:
    """Where a generated batch lives and what the program must produce."""

    deals: list[Deal]
    asset_rows: int
    bond_rows: int
    assets_dir: str = ""
    bond_dir: str = ""
    xml_paths: list[str] = field(default_factory=list)
    input_bytes: int = 0
    #: per-deal expected rows: assets good/bad, bond good/bad
    asset_bad_per_deal: int = 0
    bond_bad_per_deal: int = 0


class EdwGenerator:
    """Deterministic EDW batches for one seed."""

    def __init__(self, seed: int, n_deals: int, asset_rows: int, bond_rows: int):
        self.seed = seed
        self.n_deals = n_deals
        self.asset_rows = asset_rows
        self.bond_rows = bond_rows
        self.asset_cols = sorted(schemas.ASSET_COLUMNS, key=_col_num)
        self.bond_cols = sorted(schemas.BOND_COLUMNS, key=_col_num)
        pcds = ("2023-03-31", "2023-06-30", "2023-09-30", "2023-12-31")
        rng = np.random.default_rng(seed)
        self.deals = [
            Deal(f"LES{seed % 1000:03d}D{i:03d}", pcds[int(rng.integers(0, len(pcds)))])
            for i in range(n_deals)
        ]

    # -- per-deal content -------------------------------------------------
    def _asset_columns(self, deal: Deal, key: list[int]) -> dict[str, list[str]]:
        rng = np.random.default_rng(key)
        n = self.asset_rows
        cols: dict[str, list[str]] = {}
        for c in self.asset_cols:
            pool = _pool(schemas.ASSET_RULES[c], schemas.ASSET_COLUMNS[c], rng)
            cols[c] = [pool[i] for i in rng.integers(0, len(pool), n)]
        cols["AL1"] = [deal.pcd] * n
        cols["AL2"] = [f"Pool-{deal.ed_code}"] * n
        cols["AL5"] = [f"LS-{i:07d}" for i in range(n)]
        for i in range(0, n, ASSET_BAD_EVERY):
            col, bad = ASSET_BREAKS[(i // ASSET_BAD_EVERY) % len(ASSET_BREAKS)]
            cols[col][i] = bad
        return cols

    def _bond_columns(self, deal: Deal, salt: int) -> dict[str, list[str]]:
        rng = np.random.default_rng([self.seed, salt, 1])
        n = self.bond_rows
        cols: dict[str, list[str]] = {}
        for c in self.bond_cols:
            pool = _pool(schemas.BOND_RULES[c], schemas.BOND_COLUMNS[c], rng)
            cols[c] = [pool[i] for i in rng.integers(0, len(pool), n)]
        cols["BL1"] = [deal.pcd] * n
        cols["BL2"] = [f"SPV {deal.ed_code} tranche {j}" for j in range(n)]
        for j in range(0, n, BOND_BAD_EVERY):
            cols["BL4"][j] = "x"
        return cols

    @staticmethod
    def _write_csv(path: str, cols: dict[str, list[str]], n: int) -> int:
        names = list(cols)
        lines = [",".join(names), ",".join(f"label {c}" for c in names)]
        lines.extend(",".join(r) for r in zip(*cols.values()))
        data = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as f:
            f.write(data)
        return len(data)

    @staticmethod
    def _write_xml(path: str, deal: Deal, i: int) -> int:
        xml = f"""<?xml version="1.0"?>
<Deal xmlns="http://edw.example/ns">
  <EDCode>{deal.ed_code}</EDCode>
  <AssetClassCode>LES</AssetClassCode>
  <AssetClassName>Leases</AssetClassName>
  <Country>IT</Country>
  <CountryCodeOfSecuritisedAsset>IT</CountryCodeOfSecuritisedAsset>
  <DataOwner>owner {i}</DataOwner>
  <DealVisibleToOrg>x</DealVisibleToOrg>
  <DealVisibleToUser>y</DealVisibleToUser>
  <DealSize>{500_000_000 + 1000 * i}.00</DealSize>
  <DealVersion>{1 + i % 4}</DealVersion>
  <IsActiveDeal>y</IsActiveDeal>
  <IsECBEligible>{'y' if i % 2 else 'n'}</IsECBEligible>
  <SpvName>SPV {deal.ed_code}</SpvName>
  <ISIN><code>IT{i:010d}</code><code>IT{i + 1:010d}</code></ISIN>
  <Submissions>
    <Submission>
      <PoolCutOffDate>{deal.pcd}</PoolCutOffDate>
      <CurrentPoolBalance>{321_000_000 + i}.00</CurrentPoolBalance>
      <NumberOfActiveAssets>{1000 + i}</NumberOfActiveAssets>
      <MetricData>drop me</MetricData>
      <IsProvisional>n</IsProvisional>
    </Submission>
    <Submission><PoolCutOffDate>2012-01-31</PoolCutOffDate></Submission>
  </Submissions>
</Deal>
"""
        with open(path, "w", encoding="utf-8") as f:
            f.write(xml)
        return len(xml.encode())

    # -- batches ----------------------------------------------------------
    def _layout(self, root: str, deals: list[Deal]) -> Layout:
        lay = Layout(deals, self.asset_rows, self.bond_rows)
        lay.assets_dir = os.path.join(root, "assets")
        lay.bond_dir = os.path.join(root, "bond")
        for d in (lay.assets_dir, lay.bond_dir, os.path.join(root, "xml")):
            os.makedirs(d, exist_ok=True)
        lay.asset_bad_per_deal = len(range(0, self.asset_rows, ASSET_BAD_EVERY))
        lay.bond_bad_per_deal = len(range(0, self.bond_rows, BOND_BAD_EVERY))
        return lay

    def day1(self, root: str, assets_only: bool = False) -> Layout:
        """Full load: every deal's assets, bond and deal XML (only the
        assets if ``assets_only``)."""
        lay = self._layout(root, list(self.deals))
        for i, deal in enumerate(self.deals):
            lay.input_bytes += self._write_csv(
                os.path.join(lay.assets_dir, deal.csv_name("assets")),
                self._asset_columns(deal, [self.seed, i]), self.asset_rows)
            if assets_only:
                continue
            lay.input_bytes += self._write_csv(
                os.path.join(lay.bond_dir, deal.csv_name("bond")),
                self._bond_columns(deal, i), self.bond_rows)
            xml = os.path.join(root, "xml", f"{deal.ed_code}_deal_details.xml")
            lay.input_bytes += self._write_xml(xml, deal, i)
            lay.xml_paths.append(xml)
        return lay

    def day2(self, root: str, touched: int, new_deals: int, seed: int) -> tuple[Layout, int]:
        """Increment over this generator's day 1: the first ``touched`` deals'
        assets re-submitted with one row in CHANGE_EVERY changed, plus
        ``new_deals`` new deals (assets and deal XML). ``seed`` picks the
        changed rows, their new values and the new deals. Returns the layout
        and the number of changed rows."""
        fresh = [
            Deal(f"LES{seed % 1000:03d}N{i:03d}", self.deals[i % len(self.deals)].pcd)
            for i in range(new_deals)
        ]
        lay = self._layout(root, self.deals[:touched] + fresh)
        n_changed = self.asset_rows // CHANGE_EVERY
        for i, deal in enumerate(self.deals[:touched]):
            cols = self._asset_columns(deal, [self.seed, i])
            rng = np.random.default_rng([seed, i])
            for r in rng.choice(self.asset_rows, n_changed, replace=False):
                cols[CHANGE_COL][r] = f"{rng.uniform(250_001, 500_000):.2f}"
            lay.input_bytes += self._write_csv(
                os.path.join(lay.assets_dir, deal.csv_name("assets")), cols, self.asset_rows)
        for j, deal in enumerate(fresh):
            lay.input_bytes += self._write_csv(
                os.path.join(lay.assets_dir, deal.csv_name("assets")),
                self._asset_columns(deal, [seed, 10_000 + j]), self.asset_rows)
            xml = os.path.join(root, "xml", f"{deal.ed_code}_deal_details.xml")
            lay.input_bytes += self._write_xml(xml, deal, len(self.deals) + j)
            lay.xml_paths.append(xml)
        return lay, touched * n_changed
