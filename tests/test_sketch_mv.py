"""Streaming sketch materialized view: streamed state == batch-built
sketch bit-for-bit, atomic ledger-with-state commits, content
idempotence across replays the ledger cannot see."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from les_etl_pipeline_spark.catalog import table
from les_etl_pipeline_spark.operators import sketches
from les_etl_pipeline_spark.streaming import sketch_mv as MV

# CAP=64 forces the big first batch (~450 of 500 docs) to COMPACT, so
# the fold exercises the asymmetric-merge shape (small batch into deep
# state) that masked VERDICT r10 #1 when every batch was an equal third
CAP, K = 64, 64


def _stream(spark, path):
    return (
        spark.readStream.schema("doc_id bigint, n_chars bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _drain(spark, stream_dir, state_dir, ckpt_dir, **kw):
    MV.sketch_mv_sink(
        _stream(spark, stream_dir),
        "n_chars",
        F.col("doc_id").cast("string"),
        state_dir,
        ckpt_dir,
        capacity=CAP,
        kmv_k=K,
        **kw,
    )


def _splits():
    """Deliberately SKEWED batch splits (~90% / ~9% / ~1% of doc_ids):
    after batch 0 the state is compacted (lstar >= 1), so batches 1 and
    2 fold small shallow sketches into deep history — the exact shape
    that produced a mixed-rate sample before the kll_merge level
    floor. (Lazy: Columns need a live SparkContext.)"""
    m = F.col("doc_id") % 100
    return [m < 90, (m >= 90) & (m < 99), m == 99]


@pytest.fixture()
def mv(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    stream_dir = str(tmp_path / "mv_stream")
    for pred in _splits():
        docs.where(pred).coalesce(1).write.mode("append").parquet(stream_dir)
        time.sleep(1.05)
    state_dir = str(tmp_path / "mv_state")
    ckpt = str(tmp_path / "mv_ckpt")
    _drain(spark, stream_dir, state_dir, ckpt)
    return docs, stream_dir, state_dir, ckpt


def test_streamed_sketch_equals_batch_build(spark, mv):
    """THE canonical-mergeability payoff: after a 3-batch drain the MV's
    KLL and KMV states are BIT-IDENTICAL to single batch builds over all
    ingested rows — not approximately, set-equal on the raw rows."""
    docs, _, state_dir, _ = mv
    key = F.col("doc_id").cast("string")
    kll_state, kmv_state, manifest = MV._read_state(spark, MV._store(spark, state_dir))
    exp_kll = sketches.kll_build(docs, "n_chars", key, capacity=CAP)
    # the fixture's skewed batches really did compact the state — the
    # regression shape, not the equal-thirds one that masked r10 #1
    assert kll_state.select(F.max("lstar")).collect()[0][0] >= 1
    assert {(r.v, r.u, r.lstar) for r in kll_state.collect()} == {
        (r.v, r.u, r.lstar) for r in exp_kll.collect()
    }
    exp_kmv = MV._kmv_bottom_k(
        docs.select(sketches._kll_coin(key).alias("h")), K
    )
    assert {r.h for r in kmv_state.collect()} == {r.h for r in exp_kmv.collect()}
    assert list(manifest.values()) == [2]  # three batches, HWM = 2
    # derived reads agree with the batch-side sketch queries — p90 pins
    # the TAIL, where the pre-fix mixed-rate sample showed its bias
    probs = [0.5, 0.9]
    got_q = {r.p: r.q for r in MV.read_mv_quantiles(spark, state_dir, probs).collect()}
    exp_q = {r.p: r.q for r in sketches.kll_quantiles(exp_kll, probs).collect()}
    assert got_q == exp_q
    est = MV.read_mv_distinct(spark, state_dir, K).collect()[0].n_distinct_est
    n = docs.count()
    assert abs(est - n) / n <= 0.5  # k=64: coarse but sane


def test_replay_same_checkpoint_is_noop(spark, mv):
    """A redrain of the consumed stream advances nothing: the manifest
    HWM skips every batch before any state write."""
    _, stream_dir, state_dir, ckpt = mv
    store = MV._store(spark, state_dir)
    v_before = store.current_version()
    _drain(spark, stream_dir, state_dir, ckpt)
    assert store.current_version() == v_before


def test_replay_new_checkpoint_is_content_idempotent(spark, mv):
    """A NEW stream draining the SAME files (batch ids restart at 0 — a
    replay the per-checkpoint ledger cannot see) folds again but changes
    NOTHING: deterministic coins + distinct-union merges collapse it."""
    _, stream_dir, state_dir, _ = mv
    kll_before, kmv_before, _ = MV._read_state(spark, MV._store(spark, state_dir))
    rows_before = {(r.v, r.u) for r in kll_before.collect()}
    kmv_rows_before = {r.h for r in kmv_before.collect()}
    _drain(spark, stream_dir, state_dir, state_dir + "_ckpt2")
    kll_after, kmv_after, manifest = MV._read_state(spark, MV._store(spark, state_dir))
    assert {(r.v, r.u) for r in kll_after.collect()} == rows_before
    assert {r.h for r in kmv_after.collect()} == kmv_rows_before
    assert len(manifest) == 2  # both streams' HWMs tracked


def test_vacuum_bounds_state_versions(spark, sf_dir, tmp_path, monkeypatch):
    """One version lands per folded batch; the sink's vacuum keeps only
    the trailing N, and the surviving state reads identically."""
    monkeypatch.setattr(MV, "_VACUUM_KEEP_LAST", 1)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    stream_dir = str(tmp_path / "vac_stream")
    for pred in _splits():
        docs.where(pred).coalesce(1).write.mode("append").parquet(stream_dir)
        time.sleep(1.05)
    state_dir = str(tmp_path / "vac_state")
    _drain(spark, stream_dir, state_dir, str(tmp_path / "vac_ckpt"))
    store = MV._store(spark, state_dir)
    assert store._versions_on_disk() == [2]  # only the latest survives
    kll_state, _, _ = MV._read_state(spark, store)
    exp = sketches.kll_build(
        docs, "n_chars", F.col("doc_id").cast("string"), capacity=CAP
    )
    assert {(r.v, r.u) for r in kll_state.collect()} == {
        (r.v, r.u) for r in exp.collect()
    }


def test_crash_before_claim_replays_clean(spark, sf_dir, tmp_path, monkeypatch):
    """The commit is the atomic state publish: a crash BEFORE the claim
    leaves no trace (ledger and data are one object), and the restarted
    stream refolds to exactly the clean-run state."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    stream_dir = str(tmp_path / "crash_stream")
    docs.coalesce(1).write.mode("append").parquet(stream_dir)
    state_dir = str(tmp_path / "crash_state")
    ckpt = str(tmp_path / "crash_ckpt")

    from les_etl_pipeline_spark.sinks.snapshot_store import SnapshotStore

    real = SnapshotStore.publish_dir
    state = {"n": 0}

    def boom(self, *a, **kw):
        state["n"] += 1
        if state["n"] == 1:
            raise RuntimeError("injected crash before claim")
        return real(self, *a, **kw)

    monkeypatch.setattr(SnapshotStore, "publish_dir", boom)
    with pytest.raises(Exception, match="injected crash"):
        _drain(spark, stream_dir, state_dir, ckpt)
    store = MV._store(spark, state_dir)
    assert store.current_version() is None  # no trace
    _drain(spark, stream_dir, state_dir, ckpt)  # restart refolds
    monkeypatch.setattr(SnapshotStore, "publish_dir", real)
    key = F.col("doc_id").cast("string")
    kll_state, _, manifest = MV._read_state(spark, store)
    exp = sketches.kll_build(docs, "n_chars", key, capacity=CAP)
    assert {(r.v, r.u) for r in kll_state.collect()} == {
        (r.v, r.u) for r in exp.collect()
    }
    assert list(manifest.values()) == [0]


# -- grouped sketch MV (round 11) ---------------------------------------------
# 20 sources x 25 docs at sf0.001: GCAP=8 forces every group's first
# (90%) batch to compact ~2 levels; GK=16 < 25 so the bottom-k binds
GCAP, GK = 8, 16


def _gdrain(spark, stream_dir, state_dir, ckpt_dir, **kw):
    MV.sketch_mv_sink_grouped(
        spark.readStream.schema("doc_id bigint, source string, n_chars bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir),
        ["source"],
        "source string",
        "n_chars",
        F.col("doc_id").cast("string"),
        state_dir,
        ckpt_dir,
        capacity=GCAP,
        kmv_k=GK,
        **kw,
    )


@pytest.fixture()
def gmv(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    stream_dir = str(tmp_path / "gmv_stream")
    for pred in _splits():  # skewed 90/9/1: state compacts before batch 1
        docs.where(pred).coalesce(1).write.mode("append").parquet(stream_dir)
        time.sleep(1.05)
    state_dir = str(tmp_path / "gmv_state")
    ckpt = str(tmp_path / "gmv_ckpt")
    _gdrain(spark, stream_dir, state_dir, ckpt)
    return docs, stream_dir, state_dir, ckpt


def test_grouped_streamed_sketch_equals_batch_build(spark, gmv):
    """Per-group streamed state == per-group single batch build,
    bit-for-bit, after skewed batches that compact the big groups —
    the grouped twin of the r11 level-floor regression shape."""
    docs, _, state_dir, _ = gmv
    key = F.col("doc_id").cast("string")
    kll_schema, kmv_schema = MV._grouped_schemas("source string")
    kll_state, kmv_state, manifest = MV._read_state(
        spark, MV._store(spark, state_dir), kll_schema, kmv_schema
    )
    exp_kll = sketches.kll_build_grouped(docs, ["source"], "n_chars", key, capacity=GCAP)
    assert kll_state.select(F.max("lstar")).collect()[0][0] >= 1  # really compacted
    assert {(r.source, r.v, r.u, r.lstar) for r in kll_state.collect()} == {
        (r.source, r.v, r.u, r.lstar) for r in exp_kll.collect()
    }
    exp_kmv = sketches._bottom_k_grouped(
        docs.select("source", sketches._kll_coin(key).alias("h")), ["source"], GK
    )
    assert {(r.source, r.h) for r in kmv_state.collect()} == {
        (r.source, r.h) for r in exp_kmv.collect()
    }
    assert list(manifest.values()) == [2]
    # derived reads: per-group quantiles match the batch-side grouped
    # sketch queries; distinct estimates are per group
    probs = [0.5, 0.9]
    got_q = {
        (r.source, r.p): r.q
        for r in MV.read_mv_quantiles_grouped(
            spark, state_dir, ["source"], "source string", probs
        ).collect()
    }
    exp_q = {
        (r.source, r.p): r.q
        for r in sketches.kll_quantiles_grouped(exp_kll, ["source"], probs).collect()
    }
    assert got_q == exp_q
    est = {
        r.source: r.n_distinct_est
        for r in MV.read_mv_distinct_grouped(
            spark, state_dir, ["source"], "source string", GK
        ).collect()
    }
    n_src = docs.select("source").distinct().count()
    assert len(est) == n_src and all(v > 0 for v in est.values())


def test_grouped_mv_replay_is_content_idempotent(spark, gmv):
    """A NEW checkpoint redraining the same files changes nothing:
    per-group max(lstar) dedup keeps the level floor valid, so the
    refold collapses bit-for-bit."""
    _, stream_dir, state_dir, _ = gmv
    kll_schema, kmv_schema = MV._grouped_schemas("source string")
    store = MV._store(spark, state_dir)
    before_kll, before_kmv, _ = MV._read_state(spark, store, kll_schema, kmv_schema)
    rows = {(r.source, r.v, r.u, r.lstar) for r in before_kll.collect()}
    kmv_rows = {(r.source, r.h) for r in before_kmv.collect()}
    _gdrain(spark, stream_dir, state_dir, state_dir + "_ckpt2")
    after_kll, after_kmv, manifest = MV._read_state(spark, store, kll_schema, kmv_schema)
    assert {(r.source, r.v, r.u, r.lstar) for r in after_kll.collect()} == rows
    assert {(r.source, r.h) for r in after_kmv.collect()} == kmv_rows
    assert len(manifest) == 2


def test_grouped_mv_group_churn_chaos(spark, tmp_path):
    """Group-churn schedule (VERDICT r11 #5) — the axis the skewed-size
    pins don't cover. Three churn shapes folded through 3 batches:

    - ``early``  : present ONLY in batch 0, then never again — its state
      must survive two folds in which the batch sketch has no row for it
      (the per-group merge must not drop absent groups);
    - ``hot``    : 60 rows in batch 0 (compacts at GCAP=8, lstar >= 1),
      QUIET in batch 1, returns in batch 2 with 3 shallow rows — the
      asymmetric small-into-deep fold, per group, after a silent gap;
    - ``NULL``   : a NULL group key arriving only in the LAST batch —
      a NULL group is a group (GROUP BY semantics), so it must fold,
      persist through parquet state, and read back;
    - ``steady`` : control, present in every batch.

    Afterwards the streamed per-group state must equal the single batch
    build over the union, BIT-FOR-BIT — including lstar."""
    rows = []
    nid = [0]

    def mk(source, n, base):
        out = []
        for i in range(n):
            out.append((nid[0], source, base + 7 * i))
            nid[0] += 1
        return out

    batch0 = mk("early", 15, 100) + mk("hot", 60, 500) + mk("steady", 20, 50)
    batch1 = mk("steady", 20, 900)
    batch2 = mk("hot", 3, 1300) + mk(None, 10, 40) + mk("steady", 5, 1500)
    stream_dir = str(tmp_path / "churn_stream")
    for batch in (batch0, batch1, batch2):
        spark.createDataFrame(
            batch, "doc_id bigint, source string, n_chars bigint"
        ).coalesce(1).write.mode("append").parquet(stream_dir)
        time.sleep(1.05)
    state_dir = str(tmp_path / "churn_state")
    _gdrain(spark, stream_dir, state_dir, str(tmp_path / "churn_ckpt"))

    docs = spark.createDataFrame(
        batch0 + batch1 + batch2, "doc_id bigint, source string, n_chars bigint"
    )
    key = F.col("doc_id").cast("string")
    kll_schema, kmv_schema = MV._grouped_schemas("source string")
    kll_state, kmv_state, manifest = MV._read_state(
        spark, MV._store(spark, state_dir), kll_schema, kmv_schema
    )
    exp_kll = sketches.kll_build_grouped(
        docs, ["source"], "n_chars", key, capacity=GCAP
    )
    # the hot group really compacted before its quiet gap
    hot_lstar = {
        r.source: r.ls
        for r in kll_state.groupBy("source").agg(F.max("lstar").alias("ls")).collect()
    }
    assert hot_lstar["hot"] >= 1
    assert {(r.source, r.v, r.u, r.lstar) for r in kll_state.collect()} == {
        (r.source, r.v, r.u, r.lstar) for r in exp_kll.collect()
    }
    exp_kmv = sketches._bottom_k_grouped(
        docs.select("source", sketches._kll_coin(key).alias("h")), ["source"], GK
    )
    assert {(r.source, r.h) for r in kmv_state.collect()} == {
        (r.source, r.h) for r in exp_kmv.collect()
    }
    assert list(manifest.values()) == [2]
    # every churn shape is present in the final state, NULL group included
    state_groups = {r.source for r in kll_state.select("source").distinct().collect()}
    assert state_groups == {"early", "hot", "steady", None}
    # derived grouped reads surface the NULL group too
    est = {
        r.source: r.n_distinct_est
        for r in MV.read_mv_distinct_grouped(
            spark, state_dir, ["source"], "source string", GK
        ).collect()
    }
    assert set(est) == state_groups and all(v > 0 for v in est.values())
