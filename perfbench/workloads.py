"""The benchmark's workloads: set-up, one timed iteration, output checks.

Every timed operation is one call into the engine's public API (a
``pipelines`` stage or a registry query). Checks read the outputs back
after the operation's clock has stopped, with pyarrow rather than the
engine under test, so they cost no measured time and no Spark jobs.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.compute as pc
import pyarrow.dataset as ds

import edwgen
import procfs
from les_etl_pipeline_spark import pipelines
from les_etl_pipeline_spark.catalog import TABLES
from les_etl_pipeline_spark.sinks.writers import RunLedger

DAY1, DAY2 = "2024-01-01", "2024-01-02"
GEN_REPEATS = 3
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

#: one query per layer contrast: relational, ETL, execution-bound dedup,
#: the Python-worker cogroup (MMR over IVF), text, and a driver-build-bound
#: aggregate (21 jobs). q3, q5, ngram-Jaccard, IVF-PQ and KLL are left out:
#: they repeat these shapes, and a pass over all twelve does not fit the
#: evaluation's time limit on a loaded 4-CPU host (see README.md).
REGISTRY_MIX = [
    "q1_pricing_summary", "etl_scd2_current_snapshot", "etl_validation_split",
    "dedup_minhash_banded", "similarity_mmr_rerank_ivf", "text_bm25_topk",
    "agg_mad_outliers_by_flag",
]


@dataclass
class Op:
    label: str
    wall_s: float
    cpu_s: float
    ok: bool
    error: str = ""


@dataclass
class Iteration:
    ops: list[Op] = field(default_factory=list)
    checks: list[dict] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return sum(o.wall_s for o in self.ops)

    @property
    def cpu_s(self) -> float:
        return sum(o.cpu_s for o in self.ops)

    @property
    def failed_ops(self) -> int:
        bad = {i for i, o in enumerate(self.ops) if not o.ok}
        return len(bad | {c["op"] for c in self.checks if not c["ok"]})

    def check(self, name: str, got, want, ok: bool | None = None) -> None:
        """Record a check of the output of the last operation run."""
        self.checks.append({"name": name, "op": len(self.ops) - 1,
                            "ok": got == want if ok is None else ok,
                            "got": got, "want": want})


def fs_state(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) that are new or changed between two fs_state()s."""
    new = [v for k, v in after.items() if before.get(k) != v]
    return len(new), sum(size for size, _ in new)


def digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def read(path: str, columns: list[str] | None = None):
    """A table the engine wrote (a directory of parquet files, possibly
    hive-partitioned), read with pyarrow."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def rows(path: str, columns: tuple[str, ...] = (), **conds) -> dict[str, int]:
    """Row count of a table plus, per keyword, the number of rows where the
    given function of the table (read with ``columns``) is true."""
    t = read(path, list(columns))
    return {"rows": t.num_rows, **{k: int(pc.sum(f(t)).as_py() or 0) for k, f in conds.items()}}


class Workload:
    name = ""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed

    def op(self, it: Iteration, label: str, stage: str, fn, span="pipelines.stage"):
        """Run one timed call; a raise is recorded as a failed op."""
        cpu0 = procfs.tree_cpu_s()
        t0 = time.perf_counter()
        out, ok, err = None, True, ""
        try:
            with self.tracer.span(span, stage=stage, label=label):
                out = fn()
        except Exception as e:  # noqa: BLE001 — counted, reported, run goes on
            ok, err = False, repr(e)[:500]
        wall = time.perf_counter() - t0
        it.ops.append(Op(label, wall, procfs.tree_cpu_s() - cpu0, ok, err))
        return ok, out


# --------------------------------------------------------------------------
# EDW pipeline workloads
# --------------------------------------------------------------------------
class _Edw(Workload):
    n_deals, asset_rows, bond_rows = 4, 500, 20

    def _generate(self, fn) -> float:
        """Generate the inputs GEN_REPEATS times; median seconds."""
        times = []
        for _ in range(GEN_REPEATS):
            shutil.rmtree(os.path.join(self.work, "raw"), ignore_errors=True)
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    @staticmethod
    def _check_silver(it: Iteration, out: str, data_type: str, topics, n: int, bad: int):
        qc = read(os.path.join(out, "qc_metrics", data_type)).to_pylist()[0]
        # reported as a count, not a failure: the observed QC counters are a
        # known defect when the quarantine gate runs first
        it.counters["qc.counter_mismatch"] = it.counters.get("qc.counter_mismatch", 0) + (
            abs(qc["n_rows"] - n) + abs(qc["n_bad"] - bad))
        it.check(f"{data_type}.quarantine_rows",
                 rows(os.path.join(out, "dirty_dumps", data_type))["rows"], bad)
        for topic in topics:
            it.check(f"{data_type}.{topic}.rows",
                     rows(os.path.join(out, data_type, topic))["rows"], n - bad)


class EdwDay1(_Edw):
    """Fresh full load of every deal through all six stages."""

    name = "edw_day1"

    def setup(self) -> dict[str, float]:
        gen = edwgen.EdwGenerator(self.seed, self.n_deals, self.asset_rows, self.bond_rows)
        raw = os.path.join(self.work, "raw")

        def make():
            self.lay = gen.day1(raw)

        return {"gen_s": self._generate(make)}

    def iteration(self, k: int) -> Iteration:
        it, lay, sp = Iteration(), self.lay, self.spark
        out = os.path.join(self.work, f"it{k}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        b = os.path.join(out, "bronze")
        silver = os.path.join(out, "silver")
        D, R, B = len(lay.deals), lay.asset_rows, lay.bond_rows
        schemas = pipelines.schemas

        def current(path):
            return rows(path, ("iscurrent",), current=lambda t: pc.equal(t["iscurrent"], 1))

        steps = [
            ("bronze_assets", "bronze_csv",
             lambda: pipelines.bronze_csv(sp, lay.assets_dir, f"{b}/assets", "assets"),
             lambda: it.check("bronze.assets", current(f"{b}/assets"),
                              {"rows": D * R, "current": D * R})),
            ("bronze_bond_info", "bronze_csv",
             lambda: pipelines.bronze_csv(sp, lay.bond_dir, f"{b}/bond_info", "bond_info"),
             lambda: it.check("bronze.bond_info", current(f"{b}/bond_info"),
                              {"rows": D * B, "current": D * B})),
            ("bronze_deal_details", "bronze_deal_details",
             lambda: pipelines.bronze_deal_details(sp, lay.xml_paths, f"{b}/deal_details"),
             lambda: it.check("bronze.deal_details", rows(f"{b}/deal_details")["rows"], D)),
            ("silver_assets", "silver_assets",
             lambda: pipelines.silver_assets(sp, f"{b}/assets", silver),
             lambda: self._check_silver(it, silver, "assets", schemas.ASSET_TOPIC_RANGES,
                                        D * R, D * lay.asset_bad_per_deal)),
            ("silver_bond_info", "silver_bond_info",
             lambda: pipelines.silver_bond_info(sp, f"{b}/bond_info", silver),
             lambda: self._check_silver(it, silver, "bond_info", schemas.BOND_TOPIC_RANGES,
                                        D * B, D * lay.bond_bad_per_deal)),
            ("silver_deal_details", "silver_deal_details",
             lambda: pipelines.silver_deal_details(sp, f"{b}/deal_details", silver),
             lambda: it.check("silver.deal_details",
                              rows(os.path.join(silver, "deal_details"))["rows"], D)),
        ]
        before = fs_state(out)
        for label, stage, fn, check in steps:
            if self.op(it, label, stage, fn)[0]:
                check()
        it.counters["files_written"], it.counters["bytes_written"] = written(before, fs_state(out))
        it.counters["input_bytes"] = lay.input_bytes
        return it


class EdwDay2(_Edw):
    """Day-2 increment over a day-1 assets bronze: SCD2 merge, ledger-skipped
    rerun, deal details of the new deals, one-deal silver."""

    name = "edw_day2"
    touched, new_deals = 2, 1

    def setup(self) -> dict[str, float]:
        gen = edwgen.EdwGenerator(self.seed, self.n_deals, self.asset_rows, self.bond_rows)
        raw = os.path.join(self.work, "raw")

        def make():
            # the day-1 bronze is built from the assets alone
            self.day1 = gen.day1(os.path.join(raw, "day1"), assets_only=True)
            self.day2, self.changed = gen.day2(
                os.path.join(raw, "day2"), self.touched, self.new_deals, self.seed)

        gen_s = self._generate(make)
        # lay down the day-1 bronze once; each iteration starts from a copy
        self.base = os.path.join(self.work, "base")
        t0 = time.perf_counter()
        pipelines.bronze_csv(self.spark, self.day1.assets_dir, f"{self.base}/bronze/assets",
                             "assets", ingestion_date=DAY1,
                             ledger=RunLedger(self.spark, f"{self.base}/ledger"))
        warmup_s = time.perf_counter() - t0
        # rows stamped after this instant were inserted by the day-2 merge
        self.base_stamp = pc.max(read(f"{self.base}/bronze/assets", ["valid_from"])["valid_from"])
        return {"gen_s": gen_s, "warmup_s": warmup_s}

    def iteration(self, k: int) -> Iteration:
        it, sp, lay = Iteration(), self.spark, self.day2
        wd = os.path.join(self.work, f"it{k}")
        shutil.rmtree(wd, ignore_errors=True)
        shutil.copytree(self.base, wd)
        before = fs_state(wd)
        assets, dd = f"{wd}/bronze/assets", f"{wd}/bronze/deal_details"
        ledger = RunLedger(sp, f"{wd}/ledger")
        D, R, N = self.n_deals, self.asset_rows, self.new_deals
        fresh = N * R

        def load():
            return pipelines.bronze_csv(sp, lay.assets_dir, assets, "assets",
                                        ingestion_date=DAY2, ledger=ledger)

        ok, _ = self.op(it, "bronze_assets_merge", "bronze_csv", load)
        if ok:
            it.check("bronze.assets.merge",
                     rows(assets, ("iscurrent", "valid_from"),
                          current=lambda t: pc.equal(t["iscurrent"], 1),
                          closed=lambda t: pc.equal(t["iscurrent"], 0),
                          inserted=lambda t: pc.and_(pc.equal(t["iscurrent"], 1),
                                                     pc.greater(t["valid_from"], self.base_stamp))),
                     {"rows": D * R + self.changed + fresh, "current": D * R + fresh,
                      "closed": self.changed, "inserted": self.changed + fresh})
            it.check("ledger.day2_entries",
                     rows(f"{wd}/ledger", ("data_type", "ingestion_date"),
                          day2=lambda t: pc.and_(pc.equal(t["data_type"], "assets"),
                                                 pc.equal(t["ingestion_date"], DAY2)))["day2"],
                     self.touched + N)
        it.counters["scd2.changed_rows"] = self.changed + fresh
        state = digest(assets)
        ok, again = self.op(it, "bronze_assets_rerun", "bronze_csv", load)
        if ok:
            it.check("bronze.assets.rerun_skipped", again is None, True)
            it.check("bronze.assets.rerun_unchanged", digest(assets) == state, True)
        ok, _ = self.op(it, "deal_details_new", "bronze_deal_details",
                        lambda: pipelines.bronze_deal_details(sp, lay.xml_paths, dd))
        if ok:
            it.check("bronze.deal_details.new", rows(dd)["rows"], N)
        part = lay.deals[0].part
        silver = f"{wd}/silver"
        ok, _ = self.op(it, "silver_assets_part", "silver_assets",
                        lambda: pipelines.silver_assets(sp, assets, silver, part=part))
        if ok:
            self._check_silver(it, silver, "assets", pipelines.schemas.ASSET_TOPIC_RANGES,
                               R, self.day1.asset_bad_per_deal)
        it.counters["files_written"], it.counters["bytes_written"] = written(before, fs_state(wd))
        it.counters["input_bytes"] = lay.input_bytes
        return it


# --------------------------------------------------------------------------
# Registry workload
# --------------------------------------------------------------------------
def _norm(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    return str(v)


def _sorted_rows(cols: list[str], data) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in data),
                  key=lambda t: tuple(str(x) for x in t))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def value_hash(rows: list[tuple]) -> str:
    """Order-insensitive hash with floats at 9 significant digits."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(f"{x:.9g}" if isinstance(x, float) else x for x in r)).encode())
    return h.hexdigest()[:16]


class RegistryMix(Workload):
    """One pass over seven registry queries on the reference sf0.01
    warehouse (``data/sf0.01``, the tier the repository's DuckDB oracle
    checks use). The input is fixed: the seed does not change it.

    The timed action collects each result (at most a few thousand rows) so
    the oracle check runs on exactly the rows that were timed; a noop save
    plus a separate collect would execute every query twice."""

    name = "registry_mix"

    def setup(self) -> dict[str, float]:
        import duckdb

        # the registry imports every query module; only this workload needs it
        from les_etl_pipeline_spark.queries import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES
        self.data = DATA_DIR
        missing = [t for t in TABLES if not os.path.exists(f"{self.data}/{t}.parquet")]
        if missing:
            raise FileNotFoundError(f"{self.data}: no parquet for {missing}")
        self.oracle = duckdb.connect()
        for t in TABLES:
            self.oracle.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}
        return {}

    def _want(self, q: str) -> tuple[list[str], list[tuple]]:
        if q not in self.expected:
            res = self.oracle.execute(self.oracles[q])
            cols = [d[0] for d in res.description]
            self.expected[q] = (sorted(cols), _sorted_rows(cols, res.fetchall()))
        return self.expected[q]

    def iteration(self, k: int) -> Iteration:
        it = Iteration()
        for q in REGISTRY_MIX:
            def run(q=q):
                with self.tracer.span("queries.build", query=q):
                    df = self.queries[q](self.spark, self.data)
                with self.tracer.span("queries.exec", query=q):
                    return df.columns, df.collect()

            ok, res = self.op(it, q, q, run, span="queries.query")
            if not ok:
                continue
            got = _sorted_rows(*res)
            want_cols, want = self._want(q)
            same = (sorted(res[0]) == want_cols and len(got) == len(want)
                    and all(all(_same(x, y) for x, y in zip(a, b)) for a, b in zip(got, want)))
            it.check(q, [len(got), value_hash(got)], [len(want), value_hash(want)], same)
        return it


WORKLOADS = {w.name: w for w in (EdwDay1, EdwDay2, RegistryMix)}
