"""Plan-hygiene gate over the ENTIRE query registry: no scale-killer
shapes may appear in any registered query's physical plan unless
explicitly justified below.

At 100 TB a BroadcastNestedLoopJoin or CartesianProduct on data-scale
inputs is the difference between a job and an outage, and an
UNPARTITIONED window (WindowExec "No Partition Defined") sorts its whole
input in one task. This test makes their absence a permanent invariant —
a new query that accidentally plans one fails CI with its name.
"""

from __future__ import annotations

import math
import re

import pytest

from les_etl_pipeline_spark.queries import QUERIES

#: queries allowed to plan a BroadcastNestedLoopJoin whose build side the
#: STRUCTURAL recognizer below cannot prove bounded. Since round 9 the
#: gate recognizes two bounded-by-construction build shapes on its own —
#: a global aggregate (keys=[], <= 1 row) and a driver-literal
#: LocalTableScan (k x d scalars embedded by createDataFrame), plus any
#: cross of those — so the former 37-entry "1-row aggregate broadcast"
#: bookkeeping is gone (VERDICT r8 #5). What remains needs a HUMAN
#: justification: build sides that are genuinely data-derived (a
#: filtered scan of the query set — bounded by a selective predicate the
#: plan cannot prove) or deliberately quadratic exactness baselines.
#: test_bnlj_allowlist_is_minimal fails if an entry becomes provable, so
#: the list can only shrink.
BNLJ_ALLOWED = {
    "join_cross": "the cross-join operator itself",
    "similarity_threshold_pairs": "documented exact all-pairs baseline",
    "text_jsd_source_divergence": "source-pair spine cross (sources = corpus metadata)",
    "similarity_bruteforce_topk": "broadcast of the predicate-bounded query set",
    "similarity_ivf_pq_recall": (
        "exact side IS the allowlisted brute-force baseline (broadcast of "
        "the predicate-bounded query set) — the recall monitor exists to "
        "compare the index against it"
    ),
    "similarity_hard_negatives": "broadcast of the predicate-bounded query set",
    "stream_ann_index_recall": (
        "exact side broadcasts the predicate-bounded query set (the "
        "brute-force baseline the monitor compares against); the index "
        "side broadcasts the persisted centroid table (n_cells rows — "
        "quantizer metadata, but a parquet scan the recognizer cannot "
        "prove bounded)"
    ),
    "stream_ann_index_recall_retrained": (
        "same shapes as stream_ann_index_recall (brute-force baseline "
        "broadcast + persisted n_cells-row centroid broadcast)"
    ),
    "embedding_random_projection_topk": "broadcast of the predicate-bounded query set",
    "events_hourly_gapfill": "hourly spine x distinct event types (categorical cardinality)",
}

#: queries allowed ordered-UNPARTITIONED windows: per query, a list of
#: (leading order column, reason) entries — one entry per DISTINCT
#: exempt window spec, each justified by its input being metadata-scale
#: (a bounded spine or a one-row-per-group table, never raw data rows).
#: The gate additionally requires the number of distinct non-`_pid`
#: unpartitioned specs per query to equal the entry count, so a future
#: second window that happens to reuse an exempted leading column still
#: fails by name. Windows ordered by `_pid` are always allowed: that is
#: the carried-offset cumulation of scale.global_row_ids / exact_ntile —
#: ONE row per range partition, the sanctioned parallel-rank pattern.
UNPART_WINDOW_ALLOWED = {
    "cte_nation_revenue_rank": [("rev", "rank over the 25-row per-nation aggregate")],
    "events_autocorr_lag1": [("day", "lag over the one-row-per-day aggregate")],
    "events_linear_interpolation": [
        ("hrL", "forward-fill (last non-null before) over the bounded hourly spine"),
        ("hrL", "backward-fill (first non-null after) over the bounded hourly spine"),
    ],
    "events_max_concurrency": [("day", "carried-offset cumulation, one row per day")],
    "events_sliding_distinct_users": [("_w1", "day-grain sliding frame")],
    "events_changepoint_cusum": [("day", "CUSUM over the one-row-per-day table")],
    "sketch_histogram_quantiles": [
        ("bin", "cumulation over the <= n_bins-row histogram cell table")
    ],
    "sketch_kll_quantiles": [
        ("v", "row_number over the <= capacity-row survivor sample")
    ],
    "sketch_kll_merge_fold": [
        ("v", "row_number over the <= capacity-row MERGED survivor sample")
    ],
    "skyline_price_size": [
        (
            "p_retailprice",
            "prev-max cumulation over the per-price cells of the "
            "partition-local skylines — locally-pruned candidates, "
            "never raw rows",
        )
    ],
}

_WSD_START = "windowspecdefinition("


@pytest.fixture(scope="module")
def all_plans(spark, sf_dir) -> dict[str, str]:
    """Physical plan text of every registered query, computed once.

    Built from a small driver thread pool (guide §2.6): construction of
    the ~320 queries is independent (fixture-building queries use unique
    scratch dirs; py4j gives each thread its own connection), and the
    few that run driver jobs at build time overlap instead of
    serializing — measured 127 s -> ~45 s for the module setup."""
    from concurrent.futures import ThreadPoolExecutor

    def one(item):
        name, fn = item
        return name, fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    with ThreadPoolExecutor(max_workers=6) as pool:
        return dict(pool.map(one, QUERIES.items()))


def _wsd_args(plan: str) -> list[list[str]]:
    """Top-level argument lists of every windowspecdefinition in the
    plan text, parsed with balanced parens — a naive [^)]* regex stops
    at the first ')' and a bare comma split breaks on nested calls like
    coalesce(a, b), silently exempting such windows from the gate."""
    specs = []
    i = 0
    while True:
        start = plan.find(_WSD_START, i)
        if start < 0:
            break
        j = start + len(_WSD_START)
        depth, arg, args = 1, [], []
        while j < len(plan) and depth > 0:
            ch = plan[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            elif ch == "," and depth == 1:
                args.append("".join(arg).strip())
                arg = []
                j += 1
                continue
            arg.append(ch)
            j += 1
        if arg:
            args.append("".join(arg).strip())
        specs.append(args)
        i = j + 1
    return specs


def _unpartitioned_windows(plan: str) -> list[tuple[str, str]]:
    """(leading order expression, full spec) for every
    windowspecdefinition with NO partition columns (the first top-level
    argument already carries a sort direction)."""
    out = []
    for args in _wsd_args(plan):
        first = args[0] if args else ""
        if first.endswith(("ASC NULLS FIRST", "ASC NULLS LAST",
                           "DESC NULLS FIRST", "DESC NULLS LAST")):
            lead = re.sub(r"#\d+", "", first).split(" ")[0]
            out.append((lead, re.sub(r"#\d+", "", ", ".join(args))))
    return out


# --------------------------------------------------------------------------
# Structural bounded-build recognition for BroadcastNestedLoopJoin —
# shared with tools/plan_audit.py (round 11: extracted so the standalone
# linter cannot drift from this enforced gate)
# --------------------------------------------------------------------------
from les_etl_pipeline_spark.plans import unbounded_bnljs as _unbounded_bnljs  # noqa: E402


def test_no_unjustified_nested_loops(all_plans):
    offenders: dict[str, list[str]] = {}
    for name, plan in all_plans.items():
        hits = []
        if "CartesianProduct" in plan:
            hits.append("CartesianProduct")
        if name not in BNLJ_ALLOWED:
            hits += _unbounded_bnljs(plan)
        if hits:
            offenders[name] = hits
    assert not offenders, f"scale-killer join shapes: {offenders}"


def test_bnlj_allowlist_is_minimal(all_plans):
    """Named entries are reserved for builds the recognizer CANNOT prove
    bounded — an entry whose every BNLJ has become provable (or whose
    plan no longer contains one) is stale bookkeeping and must be
    removed, so the list only ever shrinks."""
    stale = []
    for name in BNLJ_ALLOWED:
        plan = all_plans[name]
        if "BroadcastNestedLoopJoin" not in plan or not _unbounded_bnljs(plan):
            stale.append(name)
    assert not stale, f"allowlist entries now provable/absent — remove: {stale}"


def test_no_unjustified_unpartitioned_windows(all_plans):
    """Every ordered-unpartitioned window in every registered plan must
    be the `_pid` carried-offset cumulation or a justified metadata-scale
    spine — a data-scale single-task sort fails here by query name."""
    offenders: dict[str, list[str]] = {}
    for name, plan in all_plans.items():
        allowed_leads = [lead for lead, _ in UNPART_WINDOW_ALLOWED.get(name, [])]
        distinct_specs: dict[str, set[str]] = {}
        for lead, spec in _unpartitioned_windows(plan):
            if lead == "_pid":
                continue
            if lead in allowed_leads:
                distinct_specs.setdefault(lead, set()).add(spec)
                continue
            offenders.setdefault(name, []).append(spec)
        # one justified entry covers exactly ONE distinct window spec: a
        # second window reusing an exempted leading column must be
        # justified (or rejected) on its own, not ride the existing entry
        for lead, specs in distinct_specs.items():
            n_entries = allowed_leads.count(lead)
            if len(specs) > n_entries:
                offenders.setdefault(name, []).append(
                    f"{len(specs)} distinct specs lead by '{lead}' but only "
                    f"{n_entries} justified: {sorted(specs)}"
                )
    assert not offenders, f"unpartitioned data-scale windows: {offenders}"


def test_concurrency_sweep_is_sharded(all_plans):
    """The events_max_concurrency sweep-line must keep its data-scale
    running sum partitioned by day: the window over the event point
    stream (the one summing `delta` ordered by t) must carry a partition
    spec, and the only ordered-unpartitioned window allowed is the
    carried-offset cumulation over the one-row-per-day table (summing
    `day_net`). Guards against regressing to a single-task global sort
    of every event boundary."""
    plan = all_plans["events_max_concurrency"]
    stream_windows = [
        ln for ln in plan.splitlines() if "Window" in ln and "sum(delta" in ln
    ]
    assert stream_windows, "sweep window over the point stream not found"
    for ln in stream_windows:
        assert re.search(r"windowspecdefinition\(day#\d+, t#", ln), (
            f"point-stream window is not partitioned by day: {ln.strip()}"
        )
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln and "sum(delta" not in ln:
            assert "day_net" in ln, (
                f"unexpected unpartitioned window over data-scale input: {ln.strip()}"
            )


def test_allowlist_entries_exist():
    """Allowlist entries must name real queries — a renamed query must
    carry its justification along."""
    unknown = [n for n in BNLJ_ALLOWED if n not in QUERIES]
    unknown += [n for n in UNPART_WINDOW_ALLOWED if n not in QUERIES]
    assert not unknown, f"allowlisted but not registered: {unknown}"


#: Structural budgets for the operator paths rewritten in the r14/r15
#: optimization rounds (VERDICT r14 #1): sf0.1 wall-clock is
#: latency-bound (8-core == 32-core), so a reintroduced double corpus
#: scan / sort-merge join / unrolled stage pyramid would NOT move the
#: bench — these pins are the only regression detector for the
#: structural wins. Counts are substring counts over the executed-plan
#: text of the query built at the test sf (checkpoint boundaries hide
#: build-side subtrees; those are pinned by the JOB budgets below).
#: Values are the measured shape at pin time (r15) — budgets are
#: maxima, so further optimization only tightens them.
PLAN_BUDGETS = {
    # name: (max Exchange, max SortMergeJoin, max "Scan parquet")
    "dedup_evidence_fusion": (4, 0, 0),        # r14: was 40 Exchange
    "sketch_kll_sliding_quantiles": (4, 0, 0),  # r14: was 64 (formatted)
    "dedup_chunk_reconstruct": (4, 0, 1),       # r14: join-free stitch
    "sketch_cms_token_freq": (3, 0, 0),         # r14: token-grain build
    "sketch_kll_merge_fold": (4, 0, 0),         # r14 grouped build + r15
    "sketch_kll_merge_fold_by_group": (4, 0, 0),  # r15: 2 SMJ -> 0
    "sketch_kll_quantiles": (4, 0, 0),
    "sketch_kll_quantiles_by_group": (4, 0, 0),
    "similarity_mmr_rerank": (6, 0, 2),         # r15: pair join SMJ -> 0
    "similarity_mmr_rerank_ivf": (6, 0, 2),
    "agg_mad_outliers_by_flag": (8, 0, 0),      # r15: 4 SMJ -> 0
    "agg_weighted_quantiles_by_group": (6, 0, 0),
    "sketch_kmv_source_overlap": (15, 0, 0),    # r15: 4 SMJ -> 0
    "sketch_kmv_source_difference": (19, 0, 0),
    "dedup_minhash_banded": (4, 0, 1),          # r14: one fold signature
    "dedup_ngram_jaccard": (5, 0, 0),
    "text_bigram_logprob_interp": (12, 0, 2),   # r14: zip_with bigrams
    "similarity_ivf_pq_topk": (13, 0, 0),
    "similarity_ivf_topk": (5, 0, 0),
}


def test_plan_budgets(all_plans):
    """Exchange / SortMergeJoin / visible-scan counts of the rewritten
    heavies stay at or under their pinned shape."""
    offenders = {}
    for name, (max_ex, max_smj, max_scan) in PLAN_BUDGETS.items():
        plan = all_plans[name]
        got = (
            plan.count("Exchange"),
            plan.count("SortMergeJoin"),
            plan.count("Scan parquet"),
        )
        if got[0] > max_ex or got[1] > max_smj or got[2] > max_scan:
            offenders[name] = (
                f"(Exchange, SMJ, scans) = {got}, budget "
                f"({max_ex}, {max_smj}, {max_scan})"
            )
    assert not offenders, f"plan-shape budgets exceeded: {offenders}"


def test_mmr_runs_one_cogroup(all_plans):
    """The MMR greedy selection is exactly ONE grouped Arrow cogroup —
    the r14 rewrite collapsed k unrolled window stages into it, and no
    row-at-a-time Python evaluation may appear anywhere."""
    for name in ("similarity_mmr_rerank", "similarity_mmr_rerank_ivf"):
        plan = all_plans[name]
        assert plan.count("FlatMapCoGroupsInPandas") == 1, name
        assert plan.count("BatchEvalPython") == 0, name


#: Driver-blocking job budgets for the checkpoint-dependent heavies:
#: their build-side structure (grouped shard builds, CC iterations,
#: fused trainer collects, lazy checkpoints) is invisible in the final
#: plan text, but every removed stage/scan was a removed Spark job —
#: the job count is the durable proxy. Measured at sf0.001 (r15) with
#: ~30% headroom for AQE variation; a reintroduced per-stage unroll or
#: eager checkpoint blows well past it.
JOB_BUDGETS = {
    "dedup_cluster_components": 19,   # union-groupBy CC, 2-step cycles
    "dedup_canonical_keep_best": 25,
    "similarity_mmr_rerank_ivf": 16,  # r14: was 54 driver-blocking jobs
    "sketch_kll_merge_fold": 11,      # grouped build: 2 scans, not 6
    "sketch_kll_merge_fold_by_group": 11,
    "dedup_chunk_reconstruct": 9,     # one grouped pass, no join-back
    "sketch_cms_token_freq": 6,       # one corpus explode
    "dedup_evidence_fusion": 17,      # each tier built once
    "sketch_kmv_source_overlap": 22,  # spine from the checkpointed sketch
    "similarity_ivf_pq_topk": 26,     # fused one-collect trainer
    "agg_mad_outliers_by_flag": 27,   # direct group-aware carried sums
}


def test_job_budgets(spark, sf_dir):
    """Build + one noop execution of each checkpoint-dependent heavy
    stays within its pinned driver job count. Each measurement runs under
    its own job group and counts that group's jobs: a before/after delta
    over ungrouped jobs misses grouped ones and goes wrong once the status
    store evicts old jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    offenders = {}
    try:
        for name, budget in JOB_BUDGETS.items():
            group = f"job_budget.{name}"
            sc.setJobGroup(group, name)
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            used = len(tracker.getJobIdsForGroup(group))
            assert used > 0, f"{name}: no job counted under {group}"
            if used > budget:
                offenders[name] = f"{used} jobs > budget {budget}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not offenders, f"driver job budgets exceeded: {offenders}"


# --------------------------------------------------------------------------
# EDW stages at the 127-column reference width: driver-side plan cost
# --------------------------------------------------------------------------
def _and_depth(e) -> int:
    """Height of the AND tree at the root of a Catalyst expression."""
    if e.getClass().getSimpleName() != "And":
        return 0
    return 1 + max(_and_depth(e.left()), _and_depth(e.right()))


def _and_leaves(e) -> int:
    if e.getClass().getSimpleName() != "And":
        return 1
    return _and_leaves(e.left()) + _and_leaves(e.right())


def test_validation_flag_is_a_balanced_and_tree(spark):
    """compile_rules' flag over every ASSET_RULES check is a balanced AND
    tree: a NOT over a left-deep chain took the optimizer one
    BooleanSimplification pass per check and hit its iteration cap."""
    from pyspark.sql import types as T

    from les_etl_pipeline_spark import schemas
    from les_etl_pipeline_spark.operators.validation import compile_rules

    flag, _ = compile_rules(schemas.ASSET_RULES, strict_columns=False)
    df = spark.createDataFrame(
        [], T.StructType([T.StructField(c, T.StringType()) for c in schemas.ASSET_RULES])
    )
    e = df.select(flag.alias("flag"))._jdf.queryExecution().analyzed().projectList().head()
    e = e.child()
    checks = _and_leaves(e)
    assert checks > len(schemas.ASSET_RULES)
    assert _and_depth(e) <= math.ceil(math.log2(checks)) + 2, (checks, _and_depth(e))


@pytest.fixture(scope="module")
def wide_csv(tmp_path_factory):
    """One full-width assets file: every ASSET_COLUMNS header, a label row
    and three data rows."""
    from les_etl_pipeline_spark import schemas

    cols = sorted(schemas.ASSET_COLUMNS, key=lambda c: int(c[2:]))
    path = tmp_path_factory.mktemp("wide") / "LESW01_2023_06_30_assets.csv"
    lines = [",".join(cols), ",".join(f"label {c}" for c in cols)]
    lines += [",".join(f"v{i}" for _ in cols) for i in range(3)]
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def test_read_edw_csv_filters_only_above_the_window(spark, wide_csv):
    """The optimized read plan has no Filter below the label-row Window,
    and the one Filter above it reads only the row number and the blank
    mark — not an inlined predicate over every raw cell, which constraint
    propagation would carry through every plan built on the read."""
    from les_etl_pipeline_spark.sources.csv_ingest import read_edw_csv

    df = read_edw_csv(spark, [wide_csv], "assets")
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    win = [i for i, line in enumerate(lines) if "row_number()" in line]
    assert len(win) == 1, lines
    assert not [line for line in lines[win[0]:] if "Filter " in line]
    above = [line for line in lines[: win[0]] if "Filter " in line]
    assert len(above) == 1, above
    refs = set(re.findall(r"([A-Za-z_]\w*)#\d+", above[0]))
    assert refs == {"_rn", "_blank"}, above[0]


@pytest.fixture(scope="module")
def wide_merge_inputs(spark, wide_csv, tmp_path_factory):
    """A day-1 bronze of the wide file, read partition-pruned as the merge's
    ``old``; the same file read again is the day-2 batch."""
    import os

    from les_etl_pipeline_spark import pipelines
    from pyspark.sql import functions as F

    bronze = str(tmp_path_factory.mktemp("wide_bronze") / "assets")
    pipelines.bronze_csv(spark, os.path.dirname(wide_csv), bronze, "assets")
    return spark.read.parquet(bronze).where(F.col("part") == "LESW01_20230630")


def test_scd2_merge_is_one_join(spark, wide_csv, wide_merge_inputs):
    """The merge scans each input once and joins them once: one CSV scan
    (the batch feeds one join), one parquet scan (history rows pass the
    join unmatched instead of being scanned apart), no broadcast, and at
    most four hash exchanges (label-row window, dedupe window, the two
    join sides)."""
    from les_etl_pipeline_spark import schemas
    from les_etl_pipeline_spark.operators.normalize import scd2_stamp
    from les_etl_pipeline_spark.operators.scd2 import scd2_merge
    from les_etl_pipeline_spark.sources.csv_ingest import read_edw_csv

    df = read_edw_csv(spark, [wide_csv], "assets")
    stamped = scd2_stamp(df, sorted(c for c in df.columns if c != "filename"))
    merged = scd2_merge(wide_merge_inputs, stamped, schemas.MERGE_KEYS["assets"])
    plan = merged._jdf.queryExecution().executedPlan().toString()
    shape = [plan.count(s) for s in ("FileScan csv", "FileScan parquet", "BroadcastExchange")]
    assert shape == [1, 1, 0], (shape, plan)
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_wide_edw_build_py4j_budget(spark, wide_csv, wide_merge_inputs, monkeypatch):
    """Building read_edw_csv + cast_to_datatype + scd2_stamp + scd2_merge
    at full width stays within 1,000 py4j commands: each wide projection
    is parsed SQL text, one command per column, where the Column-API
    builders sent one per expression node (about 31k for the first
    three)."""
    import py4j.java_gateway as jg

    from les_etl_pipeline_spark import schemas
    from les_etl_pipeline_spark.operators.cast_engine import cast_to_datatype
    from les_etl_pipeline_spark.operators.normalize import scd2_stamp
    from les_etl_pipeline_spark.operators.scd2 import scd2_merge
    from les_etl_pipeline_spark.sources.csv_ingest import read_edw_csv

    sent = [0]
    send = jg.GatewayClient.send_command

    def counted(self, *args, **kwargs):
        sent[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(jg.GatewayClient, "send_command", counted)
    df = read_edw_csv(spark, [wide_csv], "assets")
    cast_to_datatype(df, schemas.ASSET_COLUMNS)
    stamped = scd2_stamp(df, sorted(c for c in df.columns if c != "filename"))
    scd2_merge(wide_merge_inputs, stamped, schemas.MERGE_KEYS["assets"])
    monkeypatch.undo()
    assert 0 < sent[0] <= 1000, sent[0]
