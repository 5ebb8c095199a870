"""Structured Streaming tests: the same window operators as the batch
queries, run through readStream with watermarks (rows-only assertions —
SURVEY.md §7.4(6): deterministic file-source fixtures, no DuckDB oracle
for stateful streams).

Batch layout (one file per micro-batch, mtime-ordered): batch 1
establishes the watermark, batch 2 advances it (plus a duplicate id into
a still-open window), batch 3 delivers a beyond-watermark late event.
Assertions pin all three watermark behaviors: emit-on-close, retain-open,
drop-too-late. NOTE (empirically verified on this Spark): the late-row
drop uses the watermark with a one-batch lag relative to the value shown
in query progress — hence the late event rides its own third batch.
"""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from les_etl_pipeline_spark.streaming import windows as SW

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SW.EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    time.sleep(1.05)  # file source orders batches by modification time


@pytest.fixture()
def stream_dir(spark, tmp_path):
    p = str(tmp_path / "events_stream")
    _write_batch(
        spark,
        p,
        [
            (1, T0 + dt.timedelta(minutes=5), 1, "view", 1.0, "{}"),
            (2, T0 + dt.timedelta(minutes=20), 1, "view", 2.0, "{}"),
            (3, T0 + dt.timedelta(hours=1, minutes=5), 2, "click", 3.0, "{}"),
        ],
    )
    _write_batch(
        spark,
        p,
        [
            (4, T0 + dt.timedelta(hours=5), 1, "view", 4.0, "{}"),   # advances watermark to 03:00
            (2, T0 + dt.timedelta(minutes=20), 1, "view", 2.0, "{}"),  # duplicate id, window open
        ],
    )
    _write_batch(
        spark,
        p,
        [
            (5, T0 - dt.timedelta(hours=10), 3, "view", 9.0, "{}"),    # beyond watermark -> dropped
        ],
    )
    return p


def test_tumbling_with_watermark(spark, stream_dir):
    out = SW.tumbling_counts(SW.read_event_stream(spark, stream_dir))
    SW.run_to_memory(out, "t_tumbling")
    rows = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    # closed windows emitted: hour-0 'view' includes the batch-2 duplicate
    # (window was still open when it arrived), hour-1 'click'
    assert rows[(T0, "view")] == 3
    assert rows[(T0 + dt.timedelta(hours=1), "click")] == 1
    # hour-5 window end (06:00) is past the final watermark (03:00):
    # retained in state, NOT emitted
    assert (T0 + dt.timedelta(hours=5), "view") not in rows
    # the beyond-watermark late event produced no prev-day window
    assert all(ws >= T0 for ws, _ in rows)


def test_session_windows_stream(spark, stream_dir):
    out = SW.session_aggregates(SW.read_event_stream(spark, stream_dir), gap="30 minutes")
    SW.run_to_memory(out, "t_sessions")
    rows = spark.sql("SELECT * FROM t_sessions").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 1: 00:05 + 00:20 (+ open-window duplicate) coalesce into one
    # emitted session; the 05:00 session is still open -> not emitted
    assert len(by_user[1]) == 1
    s = by_user[1][0]
    assert s["n_events"] == 3
    assert s["session_start"] == T0 + dt.timedelta(minutes=5)
    assert s["session_end"] == T0 + dt.timedelta(minutes=50)  # last event + gap
    # user 2's session closed and emitted; user 3's late event was dropped
    assert by_user[2][0]["n_events"] == 1
    assert 3 not in by_user


def test_stateful_dedup_within_watermark(spark, stream_dir):
    out = SW.deduped_events(SW.read_event_stream(spark, stream_dir))
    SW.run_to_memory(out, "t_dedup")
    ids = [r["event_id"] for r in spark.sql("SELECT * FROM t_dedup").collect()]
    assert ids.count(2) == 1  # duplicate suppressed by state
    assert {1, 2, 3, 4} <= set(ids)
    assert 5 not in ids  # beyond-watermark event dropped


def test_sliding_stream_runs(spark, stream_dir):
    out = SW.sliding_averages(SW.read_event_stream(spark, stream_dir))
    SW.run_to_memory(out, "t_sliding")
    rows = spark.sql("SELECT * FROM t_sliding").collect()
    # only windows whose end passed the final watermark are emitted;
    # each on-time batch-1 event belongs to 2 windows (1h / 30min slide)
    starts = [r["win_start"] for r in rows]
    assert T0 in starts and T0 - dt.timedelta(minutes=30) in starts
    assert all(ws + dt.timedelta(hours=1) <= T0 + dt.timedelta(hours=3) for ws in starts)


def test_custom_stateful_operator(spark, stream_dir):
    """applyInPandasWithState: per-user cumulative state across
    micro-batches (custom operator surface, SURVEY.md §2.12)."""
    from les_etl_pipeline_spark.streaming.stateful import user_engagement_tracker

    out = user_engagement_tracker(SW.read_event_stream(spark, stream_dir))
    SW.run_to_memory(out, "t_stateful")
    rows = spark.sql("SELECT * FROM t_stateful").collect()
    # user 1 appears in batch 1 (2 events) and batch 2 (2 more incl. the
    # duplicate id — this operator does not dedup): the batch-2 summary
    # row must carry CUMULATIVE state (4 events), proving state persisted
    per_user = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r)
    u1 = sorted(per_user[1], key=lambda r: r["n_events"])
    assert [r["n_events"] for r in u1] == [2, 4]
    assert abs(u1[1]["total_value"] - (1.0 + 2.0 + 4.0 + 2.0)) < 1e-9
    # EWMA folds in event-time order and persists across batches
    e = 1.0
    for v in [2.0, 2.0, 4.0]:
        e = 0.3 * v + 0.7 * e
    assert abs(u1[1]["ewma_value"] - e) < 1e-9


def test_foreachbatch_lakehouse_sink(spark, stream_dir, tmp_path):
    """Stream -> windowed agg -> foreachBatch partitioned parquet: the
    landing-zone pattern; restart with the same checkpoint must not
    duplicate batches (exactly-once per batch id)."""
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    agg = SW.tumbling_counts(SW.read_event_stream(spark, stream_dir))
    SW.stream_to_lakehouse(agg, out, ckpt, partition_col="event_type")
    landed = spark.read.parquet(out)
    n1 = landed.count()
    assert n1 >= 2
    assert any(d.startswith("event_type=") for d in __import__("os").listdir(out))
    # re-run with same checkpoint: no new input -> no duplicate rows
    SW.stream_to_lakehouse(
        SW.tumbling_counts(SW.read_event_stream(spark, stream_dir)), out, ckpt,
        partition_col="event_type",
    )
    assert spark.read.parquet(out).count() == n1


def test_stream_stream_interval_join(spark, tmp_path):
    """Attribution join: purchases matched to same-user views within the
    horizon; outside-horizon and other-user views excluded; state bounded
    by the watermark + time-bound condition."""
    p = str(tmp_path / "ss_events")
    _write_batch(
        spark,
        p,
        [
            (1, T0 + dt.timedelta(minutes=0), 1, "view", 1.0, "{}"),
            (2, T0 + dt.timedelta(minutes=30), 1, "purchase", 9.0, "{}"),
            (3, T0 + dt.timedelta(minutes=10), 2, "view", 1.0, "{}"),   # other user
            (4, T0 - dt.timedelta(hours=3), 1, "view", 1.0, "{}"),      # outside horizon
        ],
    )
    ev = SW.read_event_stream(spark, p, max_files_per_trigger=None)
    out = SW.stream_stream_interval_join(
        ev.where("event_type = 'view'"),
        ev.where("event_type = 'purchase'"),
        horizon="1 hour",
    )
    SW.run_to_memory(out, "t_ssjoin")
    rows = [
        (r["purchase_id"], r["view_id"])
        for r in spark.sql("SELECT * FROM t_ssjoin").collect()
    ]
    assert rows == [(2, 1)]


def test_incremental_agg_state_matches_full_recompute(spark, stream_dir, tmp_path):
    """Streaming MV maintenance: after draining the stream one file per
    micro-batch, the maintained state table equals the from-scratch
    aggregate over all events — merge(partials) == recompute, the
    streaming face of agg_incremental_merge. The state is swapped in
    once per batch (no staging or backup dir survives a drain).
    Re-running against the same checkpoint is a no-op (exactly-once per
    batch id)."""
    import os

    from les_etl_pipeline_spark.streaming import incremental as SI

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt_inc")
    SI.incremental_agg_to_state(
        SW.read_event_stream(spark, stream_dir),
        group_col="event_type",
        value_col="value",
        state_path=state,
        checkpoint_dir=ckpt,
    )
    for debris in ("._staging", ".staging", ".old"):
        assert not os.path.exists(state + debris)
    got = {
        r["grp"]: (r["n"], r["s"], r["mn"], r["mx"], r["avg"])
        for r in SI.read_state(spark, state).collect()
    }
    full = spark.read.parquet(stream_dir)
    expect = {
        r["grp"]: (r["n"], r["s"], r["mn"], r["mx"], r["s"] / r["n"])
        for r in full.groupBy(F.col("event_type").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("double")).alias("s"),
            F.min(F.col("value").cast("double")).alias("mn"),
            F.max(F.col("value").cast("double")).alias("mx"),
        )
        .collect()
    }
    assert got == expect
    # replay with the same checkpoint: stream has no new files -> state
    # unchanged (and a replayed batch id would be skipped by the ledger)
    SI.incremental_agg_to_state(
        SW.read_event_stream(spark, stream_dir),
        group_col="event_type",
        value_col="value",
        state_path=state,
        checkpoint_dir=ckpt,
    )
    again = {
        r["grp"]: (r["n"], r["s"], r["mn"], r["mx"], r["avg"])
        for r in SI.read_state(spark, state).collect()
    }
    assert again == expect


def test_stream_static_enrichment_matches_batch_join(spark, stream_dir, tmp_path):
    """Stream-static join: drained stream enriched by a batch dimension
    equals the same join run fully in batch."""
    dim = spark.createDataFrame(
        [("view", "browse"), ("click", "engage"), ("purchase", "convert")],
        "event_type string, stage string",
    )
    out = SW.enrich_with_static(SW.read_event_stream(spark, stream_dir), dim, "event_type")
    SW.run_to_memory(out, "enriched_stream")
    got = {
        (r["event_id"], r["stage"])
        for r in spark.sql("SELECT event_id, stage FROM enriched_stream").collect()
    }
    batch = spark.read.parquet(stream_dir).join(dim, "event_type")
    expect = {(r["event_id"], r["stage"]) for r in batch.collect()}
    assert got == expect and len(got) > 0


def test_session_window_dynamic_gap_stream(spark, stream_dir):
    """session_window with a per-row gap EXPRESSION in true streaming:
    'view' events hold the session open 90 minutes, others 30 — the
    batch-1 views at 00:05/00:20 and the batch-2 duplicate coalesce with
    the 01:05 click only under the longer view gap."""
    gap = F.when(
        F.col("event_type") == "view", F.make_interval(mins=F.lit(90))
    ).otherwise(F.make_interval(mins=F.lit(30)))
    out = SW.session_aggregates(SW.read_event_stream(spark, stream_dir), gap=gap)
    SW.run_to_memory(out, "t_dyn_sessions")
    rows = spark.sql("SELECT * FROM t_dyn_sessions").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 1: views at 00:05, 00:20 (x2 with duplicate) -> 90-min gap keeps
    # the session open until 01:50; closed and emitted by the 03:00 mark
    u1 = by_user[1][0]
    assert u1["n_events"] == 3
    assert u1["session_end"] == T0 + dt.timedelta(minutes=110)  # 00:20 + 90min
    # user 2's click session closes 30 min after 01:05
    assert by_user[2][0]["session_end"] == T0 + dt.timedelta(hours=1, minutes=35)


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """LEFT OUTER attribution: the matched purchase joins its view; the
    viewless purchase emits NULL-extended — but only after the watermark
    passes purchase_ts + horizon (advanced by later batches; eviction
    lags the watermark by one micro-batch, so two far-future batches)."""
    p = str(tmp_path / "sslo_events")
    _write_batch(
        spark,
        p,
        [
            (1, T0 + dt.timedelta(minutes=0), 1, "view", 1.0, "{}"),
            (2, T0 + dt.timedelta(minutes=30), 1, "purchase", 9.0, "{}"),
            (3, T0 + dt.timedelta(minutes=30), 2, "purchase", 5.0, "{}"),  # no view
        ],
    )
    # advance BOTH sides: the global watermark is the MIN of the two
    # stream watermarks, so a far-future view alone leaves the purchase
    # side (and the join state) frozen at t0+30m
    _write_batch(
        spark,
        p,
        [
            (4, T0 + dt.timedelta(hours=10), 3, "view", 1.0, "{}"),
            (5, T0 + dt.timedelta(hours=10), 4, "purchase", 1.0, "{}"),
        ],
    )
    _write_batch(
        spark,
        p,
        [
            (6, T0 + dt.timedelta(hours=11), 3, "view", 1.0, "{}"),
            (7, T0 + dt.timedelta(hours=11), 4, "purchase", 1.0, "{}"),
        ],
    )
    ev = SW.read_event_stream(spark, p, max_files_per_trigger=1)
    out = SW.stream_stream_left_outer_join(
        ev.where("event_type = 'purchase'"),
        ev.where("event_type = 'view'"),
        horizon="1 hour",
        watermark="1 hour",
    )
    SW.run_to_memory(out, "t_sslojoin")
    rows = {
        r["purchase_id"]: r["view_id"]
        for r in spark.sql("SELECT * FROM t_sslojoin").collect()
        if r["purchase_id"] in (2, 3)
    }
    assert rows.get(2) == 1, rows      # matched purchase carries its view
    assert 3 in rows and rows[3] is None, rows  # unmatched emits null-extended


def test_streaming_dedup_index_matches_sequential_batches(spark, sf_dir, tmp_path):
    """Streaming incremental dedup: draining the document stream one
    file per micro-batch through the persisted-index sink must produce
    the SAME verdicts as replaying the batches sequentially through the
    batch operator (corpus = accumulated survivors) — the streaming
    twin of dedup_incremental_batch. Re-running against the drained
    stream is a no-op (exactly-once batch ledger)."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.operators.dedup import incremental_dedup_flags
    from les_etl_pipeline_spark.streaming import dedup_index as SD

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    stream_dir = str(tmp_path / "docs_stream")
    b1.coalesce(1).write.mode("append").parquet(stream_dir)
    time.sleep(1.05)  # file source orders micro-batches by mtime
    b2.coalesce(1).write.mode("append").parquet(stream_dir)

    index_dir = str(tmp_path / "dedup_index")
    ckpt = str(tmp_path / "ckpt_dedup_index")
    SD.dedup_index_sink(
        SD.read_document_stream(spark, stream_dir), index_dir, ckpt, threshold=0.3
    )
    got = {
        r.doc_id: (r.verdict, r.dup_of, r.best_jaccard, r.batch)
        for r in SD.read_verdicts(spark, index_dir).collect()
    }

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    exp1 = incremental_dedup_flags(empty, b1, threshold=0.3)
    surv1 = [r.doc_id for r in exp1.where(F.col("verdict") == "new").collect()]
    exp2 = incremental_dedup_flags(
        b1.where(F.col("doc_id").isin(surv1)), b2, threshold=0.3
    )
    expect = {}
    for bi, exp in ((0, exp1), (1, exp2)):
        for r in exp.collect():
            expect[r.doc_id] = (r.verdict, r.dup_of, r.best_jaccard, bi)
    assert got == expect
    # the fixture must actually exercise the cross-batch index path
    assert any(v[0] == "dup_of_corpus" for v in got.values())
    # survivors-only index: postings cover exactly the 'new' docs
    from les_etl_pipeline_spark.streaming import _exactly_once as xo

    indexed = {
        r.doc_id
        for r in xo.read_table(spark, index_dir + "/sizes", SD.SIZES_SCHEMA).collect()
    }
    assert indexed == {d for d, v in expect.items() if v[0] == "new"}
    # exactly-once: a second drain of the same (fully consumed) stream
    # neither re-grades nor re-indexes anything
    SD.dedup_index_sink(
        SD.read_document_stream(spark, stream_dir), index_dir, ckpt, threshold=0.3
    )
    assert SD.read_verdicts(spark, index_dir).count() == len(expect)


def test_streaming_ann_index_matches_batch_ivf(spark, sf_dir, tmp_path):
    """IVF index built by the streaming sink from ONE bootstrap batch
    (so the trained quantizer equals the batch operator's) must serve
    searches bit-identical to similarity.ivf_topk over the same static
    table — probe ranking, cosine, and rank tie-breaks all replayed."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.operators import similarity
    from les_etl_pipeline_spark.streaming import ann_index as SA

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stream_dir = str(tmp_path / "vec_stream")
    emb.coalesce(1).write.mode("append").parquet(stream_dir)
    index_dir = str(tmp_path / "ann_index")
    SA.ann_index_sink(
        SA.read_vector_stream(spark, stream_dir), index_dir, str(tmp_path / "ckpt_ann")
    )
    pred = F.col("vec_id") % 25 == 0
    got = sorted(
        map(
            tuple,
            SA.ivf_search_index(
                spark, index_dir, emb.where(pred), k=5, n_probe=2
            ).collect(),
        )
    )
    exp = sorted(map(tuple, similarity.ivf_topk(emb, pred, k=5, n_probe=2).collect()))
    assert got and got == exp


def test_streaming_ann_index_incremental_assign_and_ledger(spark, sf_dir, tmp_path):
    """Two-batch drain: the quantizer is trained on the FIRST batch
    only and stays fixed; the second batch is assign-and-append (the
    production ingest path — vectors never move cells). Assignments
    must equal the shared _assign argmin against the bootstrap
    centroids, and a redrain is a ledger no-op."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.operators.clustering import _assign, kmeans_lloyd_full
    from les_etl_pipeline_spark.streaming import ann_index as SA

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    stream_dir = str(tmp_path / "vec_stream2")
    b1.coalesce(1).write.mode("append").parquet(stream_dir)
    time.sleep(1.05)
    b2.coalesce(1).write.mode("append").parquet(stream_dir)
    index_dir = str(tmp_path / "ann_index2")
    ckpt = str(tmp_path / "ckpt_ann2")
    SA.ann_index_sink(SA.read_vector_stream(spark, stream_dir), index_dir, ckpt)

    _, cents1 = kmeans_lloyd_full(
        SA._doubles(b1, "vec_id", "embedding"), k=8, iters=2, vec_col="v"
    )
    root = SA._index_root(spark, index_dir)  # bootstrap = generation v0
    got_cents = SA._load_centroids(spark, root + "/centroids")
    assert got_cents == {c: list(v) for c, v in cents1.items()}

    from les_etl_pipeline_spark.streaming import _exactly_once as xo

    posts = xo.read_table(spark, root + "/postings", SA.POSTINGS_SCHEMA)
    got = {r.vec_id: (r.cell, r.batch) for r in posts.collect()}
    exp_assign = {
        r.vec_id: r.cluster
        for r in _assign(SA._doubles(emb, "vec_id", "embedding"), cents1).collect()
    }
    b1_ids = {r.vec_id for r in b1.select("vec_id").collect()}
    assert set(got) == set(exp_assign)
    for vid, (cell, batch) in got.items():
        assert cell == exp_assign[vid]
        assert batch == (0 if vid in b1_ids else 1)
    # exactly-once: redrain of the consumed stream appends nothing
    SA.ann_index_sink(SA.read_vector_stream(spark, stream_dir), index_dir, ckpt)
    assert posts.count() == len(got)


def test_streaming_ann_index_delete_and_compact(spark, sf_dir, tmp_path):
    """Index lifecycle: tombstone deletes take effect on search
    immediately (anti-join), compaction folds them in and rewrites the
    inverted file partitioned by cell — search results must be
    BIT-IDENTICAL before and after the rewrite, deleted ids must never
    reappear, and the exactly-once ledger must survive compaction."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.streaming import ann_index as SA

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stream_dir = str(tmp_path / "vec_stream3")
    emb.coalesce(1).write.mode("append").parquet(stream_dir)
    index_dir = str(tmp_path / "ann_index3")
    ckpt = str(tmp_path / "ckpt_ann3")
    SA.ann_index_sink(SA.read_vector_stream(spark, stream_dir), index_dir, ckpt)

    total = SA._live_postings(spark, index_dir).count()
    dead = [3, 7, 11, 200, 201]
    SA.delete_vectors(spark, index_dir, dead)
    assert SA._live_postings(spark, index_dir).count() == total - len(dead)

    pred = F.col("vec_id") % 25 == 0
    queries = emb.where(pred)
    before = sorted(
        map(tuple, SA.ivf_search_index(spark, index_dir, queries, k=5, n_probe=2).collect())
    )
    assert before and not {r[1] for r in before} & set(dead)

    n = SA.compact_postings(spark, index_dir)
    assert n == total - len(dead)
    import os

    # compaction publishes a NEW generation (r10): resolve the live root
    root = SA._index_root(spark, index_dir)
    assert root != index_dir  # the epoch log redirected every consumer
    assert not os.path.exists(root + "/tombstones")  # folded in
    # cell is a DATA column: compaction must NOT emit partition dirs —
    # that's what made post-compaction appends unreadable (ADVICE r8)
    assert not any(
        d.startswith("cell=") for d in os.listdir(root + "/postings")
    )
    after = sorted(
        map(tuple, SA.ivf_search_index(spark, index_dir, queries, k=5, n_probe=2).collect())
    )
    assert after == before
    # ledger intact: redrain of the consumed stream appends nothing
    SA.ann_index_sink(SA.read_vector_stream(spark, stream_dir), index_dir, ckpt)
    assert SA._live_postings(spark, index_dir).count() == n
    # the ADVICE r8 mixed-layout scenario: a NEW stream appending into the
    # compacted index must (a) actually ingest (per-checkpoint ledger, not
    # the old global batch>=0 scan) and (b) leave the index readable and
    # searchable across compacted files + fresh segment subdirs
    extra = spark.range(9000, 9003).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(64)), lambda i: (F.col("id") % 7 + i).cast("double")).alias("embedding"),
    )
    stream2 = str(tmp_path / "vec_stream3b")
    extra.coalesce(1).write.mode("append").parquet(stream2)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, stream2), index_dir, str(tmp_path / "ckpt_ann3b")
    )
    live = SA._live_postings(spark, index_dir)
    assert live.count() == n + 3
    post_append = sorted(
        map(tuple, SA.ivf_search_index(spark, index_dir, queries, k=5, n_probe=2).collect())
    )
    assert len(post_append) == len(before)


def test_streaming_dedup_index_compaction(spark, sf_dir, tmp_path):
    """Compaction must be verdict-preserving when the cap doesn't bind
    (identical verdicts for a subsequent batch against the compacted
    index) and must drop over-frequency shingles when it does."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.streaming import dedup_index as SD

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.where(F.col("doc_id") < 300)
    b2 = docs.where(F.col("doc_id") >= 300)

    def run(index_root, compact_cap):
        index_dir = str(tmp_path / index_root)
        stream1 = str(tmp_path / (index_root + "_s1"))
        b1.coalesce(1).write.mode("append").parquet(stream1)
        SD.dedup_index_sink(
            SD.read_document_stream(spark, stream1),
            index_dir,
            str(tmp_path / (index_root + "_c1")),
            threshold=0.3,
        )
        if compact_cap != "skip":
            before, after = SD.compact_index(
                spark, index_dir, max_shingle_freq=compact_cap
            )
            if compact_cap is None:
                assert after == before
            else:
                assert after < before
        stream2 = str(tmp_path / (index_root + "_s2"))
        b2.coalesce(1).write.mode("append").parquet(stream2)
        SD.dedup_index_sink(
            SD.read_document_stream(spark, stream2),
            index_dir,
            str(tmp_path / (index_root + "_c2")),
            threshold=0.3,
        )
        return {
            r.doc_id: (r.verdict, r.dup_of, r.best_jaccard)
            for r in SD.read_verdicts(spark, index_dir).collect()
        }

    base = run("didx_base", "skip")
    # the second drain uses a NEW stream + NEW checkpoint: its batch ids
    # restart at 0, so the old global batch>=0 ledger silently skipped it
    # and these cross-batch assertions passed vacuously (ADVICE r8). Pin
    # that batch 2's docs were actually graded.
    b2_ids = {r.doc_id for r in b2.select("doc_id").collect()}
    assert b2_ids and b2_ids <= set(base)
    assert any(v[0] == "dup_of_corpus" for d, v in base.items() if d in b2_ids)
    compacted = run("didx_comp", None)  # merge-only compaction
    assert compacted == base
    capped = run("didx_cap", 1)  # cap=1: any cross-doc shared shingle must be dropped
    assert set(capped) == set(base)


def test_streaming_dedup_index_crash_between_write_and_commit(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Failure injection (VERDICT r8 #3): kill the sink AFTER the batch's
    verdict/posting/size segments land but BEFORE the ledger commit.
    The restarted stream replays the batch; the overwrite-segment design
    must leave the index identical to a never-crashed run — no lost and
    no duplicated verdicts or postings."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.streaming import _exactly_once as xo
    from les_etl_pipeline_spark.streaming import dedup_index as SD

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 120)
    )
    n_docs = docs.count()
    stream_dir = str(tmp_path / "crash_stream")
    docs.coalesce(1).write.mode("append").parquet(stream_dir)
    index_dir = str(tmp_path / "crash_idx")
    ckpt = str(tmp_path / "crash_ckpt")

    real_commit = xo.commit
    monkeypatch.setattr(
        xo, "commit", lambda *a: (_ for _ in ()).throw(RuntimeError("injected crash"))
    )
    with pytest.raises(Exception, match="injected crash"):
        SD.dedup_index_sink(
            SD.read_document_stream(spark, stream_dir), index_dir, ckpt, threshold=0.3
        )
    # the crash window is real: data landed, ledger did not
    assert SD.read_verdicts(spark, index_dir).count() == n_docs
    assert not xo.committed(index_dir, xo.ckpt_key(ckpt), 0)

    monkeypatch.setattr(xo, "commit", real_commit)
    SD.dedup_index_sink(
        SD.read_document_stream(spark, stream_dir), index_dir, ckpt, threshold=0.3
    )
    got = SD.read_verdicts(spark, index_dir).collect()
    assert len(got) == n_docs  # replay did not duplicate
    assert {r.doc_id for r in got} == {r.doc_id for r in docs.select("doc_id").collect()}
    # index state equals a clean, never-crashed drain (verdicts AND index)
    clean_idx = str(tmp_path / "clean_idx")
    clean_stream = str(tmp_path / "clean_stream")
    docs.coalesce(1).write.mode("append").parquet(clean_stream)
    SD.dedup_index_sink(
        SD.read_document_stream(spark, clean_stream),
        clean_idx,
        str(tmp_path / "clean_ckpt"),
        threshold=0.3,
    )
    as_map = lambda idx: {
        r.doc_id: (r.verdict, r.dup_of, r.best_jaccard)
        for r in SD.read_verdicts(spark, idx).collect()
    }
    assert as_map(index_dir) == as_map(clean_idx)
    posts = lambda idx: sorted(
        map(
            tuple,
            xo.read_table(spark, idx + "/postings", SD.POSTINGS_SCHEMA).collect(),
        )
    )
    assert posts(index_dir) == posts(clean_idx)


def test_streaming_ann_index_crash_replay_and_stale_segment(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ANN-sink twin of the crash test, plus the stale-partial-segment
    case: debris from a crashed attempt already sitting in the batch's
    segment dir must be overwritten by the replay, not double-counted."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.streaming import _exactly_once as xo
    from les_etl_pipeline_spark.streaming import ann_index as SA

    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .where(F.col("vec_id") < 200)
    )
    n_vecs = emb.count()
    stream_dir = str(tmp_path / "ann_crash_stream")
    emb.coalesce(1).write.mode("append").parquet(stream_dir)
    index_dir = str(tmp_path / "ann_crash_idx")
    ckpt = str(tmp_path / "ann_crash_ckpt")

    # plant stale debris where the first batch will write (simulates a
    # crash that died mid-segment-write on a previous attempt)
    key = xo.ckpt_key(ckpt)
    emb.limit(7).select(
        "vec_id",
        F.lit(0).alias("cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        F.lit(1.0).alias("nrm"),
        F.lit(0).cast("bigint").alias("batch"),
    ).write.mode("overwrite").parquet(xo.segment(index_dir + "/postings", key, 0))

    real_commit = xo.commit
    monkeypatch.setattr(
        xo, "commit", lambda *a: (_ for _ in ()).throw(RuntimeError("injected crash"))
    )
    with pytest.raises(Exception, match="injected crash"):
        SA.ann_index_sink(SA.read_vector_stream(spark, stream_dir), index_dir, ckpt)
    monkeypatch.setattr(xo, "commit", real_commit)
    SA.ann_index_sink(SA.read_vector_stream(spark, stream_dir), index_dir, ckpt)

    posts = SA._live_postings(spark, index_dir)
    assert posts.count() == n_vecs  # stale debris + crash replay, still exactly-once
    assert posts.select("vec_id").distinct().count() == n_vecs
    # search parity vs a clean drain of the same data
    clean_idx = str(tmp_path / "ann_clean_idx")
    clean_stream = str(tmp_path / "ann_clean_stream")
    emb.coalesce(1).write.mode("append").parquet(clean_stream)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, clean_stream),
        clean_idx,
        str(tmp_path / "ann_clean_ckpt"),
    )
    queries = emb.where(F.col("vec_id") % 25 == 0)
    got = sorted(
        map(tuple, SA.ivf_search_index(spark, index_dir, queries, k=5, n_probe=2).collect())
    )
    exp = sorted(
        map(tuple, SA.ivf_search_index(spark, clean_idx, queries, k=5, n_probe=2).collect())
    )
    assert got and got == exp


def test_streaming_ann_index_retrain_swap(spark, sf_dir, tmp_path):
    """Drift metric + retrain + atomic generation swap (VERDICT r8 #4).
    Bootstrap trains on batch 1; batch 2 arrives SHIFTED (+0.3/coord), so
    assignment_drift rises well above 1. retrain_index then retrains the
    quantizer on all live vectors and publishes centroids+postings as one
    atomic SnapshotStore generation: post-swap search must be BIT-EXACT
    vs a fresh-trained batch ivf_topk over the same vectors, drift
    returns to exactly 1 (same vectors, same quantizer, same rounding),
    and subsequent drains land in the new generation."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.operators import similarity
    from les_etl_pipeline_spark.streaming import ann_index as SA

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double") + 0.3).alias("embedding"),
    )
    index_dir = str(tmp_path / "retrain_idx")
    s1 = str(tmp_path / "rt_s1")
    b1.coalesce(1).write.mode("append").parquet(s1)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, s1), index_dir, str(tmp_path / "rt_c1")
    )
    d0 = SA.assignment_drift(spark, index_dir)
    assert abs(d0["drift"] - 1.0) < 1e-9, d0  # postings == training set
    s2 = str(tmp_path / "rt_s2")
    b2.coalesce(1).write.mode("append").parquet(s2)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, s2), index_dir, str(tmp_path / "rt_c2")
    )
    d1 = SA.assignment_drift(spark, index_dir)
    assert d1["drift"] > 1.2, d1  # the shifted half sits far from the old centroids

    v = SA.retrain_index(spark, index_dir)
    import os

    # the retrain generation is a DATA epoch in the epoch log (drain
    # batches published pointer epochs before it, so v > 0 since r10)
    assert os.path.isdir(index_dir + f"/state/v={v}/postings")
    assert SA._index_root(spark, index_dir) == index_dir + f"/state/v={v}"
    d2 = SA.assignment_drift(spark, index_dir)
    assert abs(d2["drift"] - 1.0) < 1e-9, d2

    # post-swap search == fresh-trained batch IVF over the same vectors
    full = b1.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    ).unionByName(b2)
    pred = F.col("vec_id") % 25 == 0
    got = sorted(
        map(
            tuple,
            SA.ivf_search_index(
                spark, index_dir, full.where(pred), k=5, n_probe=2
            ).collect(),
        )
    )
    exp = sorted(
        map(tuple, similarity.ivf_topk(full, pred, k=5, n_probe=2).collect())
    )
    assert got and got == exp

    # a post-retrain drain assigns against the NEW quantizer and lands in
    # the new generation
    n_before = SA._live_postings(spark, index_dir).count()
    extra = spark.range(9100, 9103).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)), lambda i: (F.col("id") % 5 + i).cast("double")
        ).alias("embedding"),
    )
    s3 = str(tmp_path / "rt_s3")
    extra.coalesce(1).write.mode("append").parquet(s3)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, s3), index_dir, str(tmp_path / "rt_c3")
    )
    assert SA._live_postings(spark, index_dir).count() == n_before + 3
    segs = os.listdir(SA._index_root(spark, index_dir) + "/postings")
    assert any(s.startswith("seg-") for s in segs)


def test_compaction_swap_crash_recovery(spark, sf_dir, tmp_path, monkeypatch):
    """Compaction crash windows. (a) ``atomic.replace_dir``, the swap
    behind the dedup-index, gap-fill and small-file compactors: a crash
    between its two renames (table absent, complete staging beside it)
    is healed by adopting the staging; a crash after the staging write
    with the table intact drops the staging. (b) Under the ANN
    generation-publish protocol, a crash DURING the generation build
    must leave the old generation live and the store clean (publish_dir
    discards its staging — the commit point is the version claim, so
    there is no half-compacted state to recover). Search results stay
    identical throughout."""
    import os

    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.sinks import atomic
    from les_etl_pipeline_spark.streaming import ann_index as SA

    # (a) replace_dir crash windows, injected at each of its two renames
    tbl = str(tmp_path / "swap_tbl")
    atomic.replace_dir(spark.range(3), tbl)
    real_rename = os.rename

    def crash_on(step):
        def rename(src, dst):
            if dst.endswith(step):
                raise RuntimeError("injected swap crash")
            real_rename(src, dst)

        monkeypatch.setattr(atomic.os, "rename", rename)
        with pytest.raises(RuntimeError, match="injected swap crash"):
            atomic.replace_dir(spark.range(10, 15), tbl)
        monkeypatch.setattr(atomic.os, "rename", real_rename)

    def ids():
        return sorted(r.id for r in spark.read.parquet(tbl).collect())

    crash_on("swap_tbl")  # table already moved to .old, staging complete
    assert not os.path.exists(tbl) and os.path.isdir(tbl + ".staging")
    atomic.recover(tbl)
    assert ids() == list(range(10, 15))  # staging adopted
    crash_on(".old")  # staging written, table intact
    assert os.path.isdir(tbl + ".staging")
    atomic.replace_dir(spark.range(20, 22), tbl)  # recovers, then swaps
    assert ids() == [20, 21]
    crash_on(".old")
    atomic.recover(tbl)
    assert ids() == [20, 21]  # the never-swapped staging was dropped
    assert sorted(os.listdir(tmp_path)) == ["swap_tbl"]

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stream_dir = str(tmp_path / "swap_stream")
    emb.coalesce(1).write.mode("append").parquet(stream_dir)
    index_dir = str(tmp_path / "swap_idx")
    SA.ann_index_sink(
        SA.read_vector_stream(spark, stream_dir), index_dir, str(tmp_path / "swap_ckpt")
    )
    queries = emb.where(F.col("vec_id") % 25 == 0)
    before = sorted(
        map(tuple, SA.ivf_search_index(spark, index_dir, queries, k=5, n_probe=2).collect())
    )

    # (b) crash mid-generation-build: the old generation stays live, no
    # .tx staging survives, and the next compaction succeeds
    root_before = SA._index_root(spark, index_dir)
    real_copytree = __import__("shutil").copytree

    def boom(*a, **kw):
        raise RuntimeError("injected build crash")

    import shutil as _shutil

    _shutil.copytree, saved = boom, real_copytree
    try:
        with pytest.raises(RuntimeError, match="injected build crash"):
            SA.compact_postings(spark, index_dir)
    finally:
        _shutil.copytree = saved
    assert SA._index_root(spark, index_dir) == root_before  # old gen live
    state = index_dir + "/state"
    assert not [d for d in os.listdir(state) if d.startswith(".tx-")]
    mid = sorted(
        map(tuple, SA.ivf_search_index(spark, index_dir, queries, k=5, n_probe=2).collect())
    )
    assert mid == before
    SA.compact_postings(spark, index_dir)
    final = sorted(
        map(tuple, SA.ivf_search_index(spark, index_dir, queries, k=5, n_probe=2).collect())
    )
    assert final == before


def test_retrain_racing_drain_retries_and_loses_nothing(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r9 #5, direction 1: a DRAIN batch commits while a retrain
    is mid-flight. The retrain's generation publish must fail its epoch
    CAS (ConcurrentWriteError internally), retry against the fresh
    state, and the published generation must contain the interleaved
    batch's vectors — enforcement by CAS, not convention."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.operators import similarity
    from les_etl_pipeline_spark.streaming import ann_index as SA

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    index_dir = str(tmp_path / "race_idx")
    s1 = str(tmp_path / "race_s1")
    b1.coalesce(1).write.mode("append").parquet(s1)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, s1), index_dir, str(tmp_path / "race_c1")
    )

    s2 = str(tmp_path / "race_s2")
    b2.coalesce(1).write.mode("append").parquet(s2)
    real_kmeans = SA.kmeans_lloyd_full
    calls = {"n": 0}

    def kmeans_with_interleaved_drain(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            # a second stream drains AFTER the retrain read its epoch
            SA.ann_index_sink(
                SA.read_vector_stream(spark, s2),
                index_dir,
                str(tmp_path / "race_c2"),
            )
        return real_kmeans(*a, **kw)

    monkeypatch.setattr(SA, "kmeans_lloyd_full", kmeans_with_interleaved_drain)
    v = SA.retrain_index(spark, index_dir)
    monkeypatch.setattr(SA, "kmeans_lloyd_full", real_kmeans)

    assert calls["n"] == 2  # first attempt lost the CAS and was retried
    root = SA._index_root(spark, index_dir)
    assert root == index_dir + f"/state/v={v}"
    # the interleaved batch's vectors are IN the retrained generation
    assert SA._live_postings(spark, index_dir).count() == emb.count()
    # and search equals a fresh-trained batch IVF over ALL vectors
    pred = F.col("vec_id") % 25 == 0
    got = sorted(
        map(
            tuple,
            SA.ivf_search_index(spark, index_dir, emb.where(pred), k=5, n_probe=2).collect(),
        )
    )
    exp = sorted(map(tuple, similarity.ivf_topk(emb, pred, k=5, n_probe=2).collect()))
    assert got and got == exp


def test_drain_racing_retrain_redoes_batch_into_new_generation(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r9 #5, direction 2: a RETRAIN publishes while a drain
    batch is mid-flight (segment written, epoch not yet claimed). The
    drain's pointer-epoch CAS must fail, and the batch must redo its
    work against the NEW generation — assigned by the new quantizer,
    landing in the new postings — then commit its ledger exactly once."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.sinks import atomic
    from les_etl_pipeline_spark.streaming import ann_index as SA

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    index_dir = str(tmp_path / "race2_idx")
    s1 = str(tmp_path / "race2_s1")
    b1.coalesce(1).write.mode("append").parquet(s1)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, s1), index_dir, str(tmp_path / "race2_c1")
    )
    n_b1 = b1.count()

    real_publish = atomic.publish_dir
    state = {"n": 0}

    def retrain_then_publish(*a, **kw):
        state["n"] += 1
        if state["n"] == 1:
            # retrain lands between the drain's read and its commit
            SA.retrain_index(spark, index_dir)
        return real_publish(*a, **kw)

    monkeypatch.setattr(atomic, "publish_dir", retrain_then_publish)
    s2 = str(tmp_path / "race2_s2")
    b2.coalesce(1).write.mode("append").parquet(s2)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, s2), index_dir, str(tmp_path / "race2_c2")
    )
    monkeypatch.setattr(atomic, "publish_dir", real_publish)

    assert state["n"] == 2  # the batch's work ran twice: lost CAS, redid
    root = SA._index_root(spark, index_dir)
    assert root != index_dir  # live root is the retrain generation
    live = SA._live_postings(spark, index_dir)
    assert live.count() == emb.count()
    # the redone batch was assigned against the NEW quantizer
    from les_etl_pipeline_spark.operators.clustering import _assign

    cents = SA._load_centroids(spark, root + "/centroids")
    exp_assign = {
        r.vec_id: r.cluster
        for r in _assign(SA._doubles(b2, "vec_id", "embedding"), cents).collect()
    }
    got = {
        r.vec_id: r.cell
        for r in live.where(F.col("vec_id").isin(list(exp_assign))).collect()
    }
    assert got == exp_assign
    # ledger committed exactly once; a redrain is a no-op
    SA.ann_index_sink(
        SA.read_vector_stream(spark, s2), index_dir, str(tmp_path / "race2_c2")
    )
    assert SA._live_postings(spark, index_dir).count() == emb.count()


def test_drain_crash_after_ledger_commit_is_rescued_by_maintenance_fold(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r10 medium, the residual crash window: a retrain pins its
    committed read BEFORE a drain batch commits its ledger, the drain
    then CRASHES between its ledger commit and its pointer publish, and
    the retrain's generation publish wins the CAS (the epoch never
    moved). The ledger says the batch is committed — no replay will
    ever redo it — so the retrain's post-CAS ledger re-check
    (_fold_missed_commits) must copy the segment forward, reassigned
    under the NEW quantizer, or the vectors are lost forever. Also pins
    the drain-side ordering fix itself: the ledger HWM now advances
    BEFORE the pointer publish, which is what makes the crashed batch's
    segment ledger-visible at all."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.operators.clustering import _assign
    from les_etl_pipeline_spark.streaming import ann_index as SA

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    index_dir = str(tmp_path / "fold_idx")
    s1 = str(tmp_path / "fold_s1")
    b1.coalesce(1).write.mode("append").parquet(s1)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, s1), index_dir, str(tmp_path / "fold_c1")
    )
    s2 = str(tmp_path / "fold_s2")
    c2 = str(tmp_path / "fold_c2")
    b2.coalesce(1).write.mode("append").parquet(s2)

    real_txn = SA._epoch_txn

    def txn_crashing_before_pointer(spark_, index_dir_, work, before_publish=None):
        # replicate the txn up to (and including) the ledger commit,
        # then die where the pointer CAS would have run
        work(SA._index_root(spark_, index_dir_))
        if before_publish is not None:
            before_publish()
        raise RuntimeError("injected crash before pointer publish")

    real_kmeans = SA.kmeans_lloyd_full
    calls = {"n": 0}

    def kmeans_with_crashing_drain(*a, **kw):
        # runs AFTER the retrain pinned its hwms snapshot + committed
        # read, BEFORE its publish — the exact ADVICE interleaving
        calls["n"] += 1
        if calls["n"] == 1:
            monkeypatch.setattr(SA, "_epoch_txn", txn_crashing_before_pointer)
            with pytest.raises(Exception, match="injected crash"):
                SA.ann_index_sink(SA.read_vector_stream(spark, s2), index_dir, c2)
            monkeypatch.setattr(SA, "_epoch_txn", real_txn)
        return real_kmeans(*a, **kw)

    monkeypatch.setattr(SA, "kmeans_lloyd_full", kmeans_with_crashing_drain)
    v = SA.retrain_index(spark, index_dir)
    monkeypatch.setattr(SA, "kmeans_lloyd_full", real_kmeans)

    assert calls["n"] == 1  # retrain won its CAS first try (epoch never moved)
    # the ledger marks b2's batch committed, so a redrain is a no-op —
    # only the fold can have saved it...
    from les_etl_pipeline_spark.streaming import _exactly_once as xo

    assert xo.committed(index_dir, xo.ckpt_key(c2), 0)
    root = SA._index_root(spark, index_dir)
    assert root == index_dir + f"/state/v={v}"
    # ...and it did: every vector of both batches is live in the new
    # generation, with the crashed batch re-assigned under the NEW
    # quantizer (a raw copy would have kept stale cells)
    live = SA._live_postings(spark, index_dir)
    assert live.count() == emb.count()
    cents = SA._load_centroids(spark, root + "/centroids")
    exp_assign = {
        r.vec_id: r.cluster
        for r in _assign(SA._doubles(b2, "vec_id", "embedding"), cents).collect()
    }
    got = {
        r.vec_id: r.cell
        for r in live.where(F.col("vec_id").isin(list(exp_assign))).collect()
    }
    assert got == exp_assign
    SA.ann_index_sink(SA.read_vector_stream(spark, s2), index_dir, c2)  # no-op
    assert SA._live_postings(spark, index_dir).count() == emb.count()


def test_drain_crash_during_compaction_is_rescued_by_fold(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Same residual window as the retrain test, compaction direction:
    compaction pins its committed read, a drain commits its ledger and
    crashes before its pointer publish, compaction's generation wins
    the CAS — the fold must carry the committed segment into the
    compacted generation (centroids unchanged, so the deterministic
    reassignment reproduces the original cells)."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.streaming import _exactly_once as xo
    from les_etl_pipeline_spark.streaming import ann_index as SA

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    index_dir = str(tmp_path / "cfold_idx")
    s1 = str(tmp_path / "cfold_s1")
    b1.coalesce(1).write.mode("append").parquet(s1)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, s1), index_dir, str(tmp_path / "cfold_c1")
    )
    s2 = str(tmp_path / "cfold_s2")
    c2 = str(tmp_path / "cfold_c2")
    b2.coalesce(1).write.mode("append").parquet(s2)

    real_txn = SA._epoch_txn

    def txn_crashing_before_pointer(spark_, index_dir_, work, before_publish=None):
        work(SA._index_root(spark_, index_dir_))
        if before_publish is not None:
            before_publish()
        raise RuntimeError("injected crash before pointer publish")

    # inject via the hwms snapshot hook: compaction pins its read, then
    # the drain commits its ledger and dies pre-pointer
    real_hwms = xo._hwms
    state = {"n": 0}

    def hwms_then_crashing_drain(index_dir_arg):
        snap = real_hwms(index_dir_arg)
        state["n"] += 1
        if state["n"] == 1:
            monkeypatch.setattr(SA, "_epoch_txn", txn_crashing_before_pointer)
            with pytest.raises(Exception, match="injected crash"):
                SA.ann_index_sink(SA.read_vector_stream(spark, s2), index_dir, c2)
            monkeypatch.setattr(SA, "_epoch_txn", real_txn)
        return snap

    monkeypatch.setattr(xo, "_hwms", hwms_then_crashing_drain)
    n = SA.compact_postings(spark, index_dir)
    monkeypatch.setattr(xo, "_hwms", real_hwms)

    assert n == b1.count()  # the compaction itself folded only committed b1
    assert xo.committed(index_dir, xo.ckpt_key(c2), 0)
    live = SA._live_postings(spark, index_dir)
    assert live.count() == emb.count()  # fold rescued the crashed batch
    # redrain is a no-op (ledger committed), nothing duplicates
    SA.ann_index_sink(SA.read_vector_stream(spark, s2), index_dir, c2)
    assert SA._live_postings(spark, index_dir).count() == emb.count()


def test_concurrent_bootstrap_one_quantizer_wins(spark, sf_dir, tmp_path):
    """Two streams bootstrapping one EMPTY index concurrently (the last
    single-writer window, closed in r10): the EXPECT_EMPTY generation
    CAS lets exactly one trained quantizer become the index; the loser
    redoes its batch as assign-and-append against it. Invariants: both
    batches fully ingested, one complete centroid table, and every
    posting's cell equals the winning quantizer's assignment."""
    import threading

    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.operators.clustering import _assign
    from les_etl_pipeline_spark.streaming import ann_index as SA

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    index_dir = str(tmp_path / "boot_idx")
    streams = []
    for tag, df in (("1", b1), ("2", b2)):
        s = str(tmp_path / f"boot_s{tag}")
        df.coalesce(1).write.mode("append").parquet(s)
        streams.append((s, str(tmp_path / f"boot_c{tag}")))
    errors = []

    def drain(s, c):
        try:
            SA.ann_index_sink(SA.read_vector_stream(spark, s), index_dir, c)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    ts = [threading.Thread(target=drain, args=sc) for sc in streams]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errors
    live = SA._live_postings(spark, index_dir)
    assert live.count() == emb.count()  # nothing lost to the race
    root = SA._index_root(spark, index_dir)
    cents = SA._load_centroids(spark, root + "/centroids")
    assert len(cents) == 8  # exactly one complete quantizer
    exp = {
        r.vec_id: r.cluster
        for r in _assign(SA._doubles(emb, "vec_id", "embedding"), cents).collect()
    }
    got = {r.vec_id: r.cell for r in live.collect()}
    assert got == exp  # every posting assigned by the WINNING quantizer


def test_epoch_txn_chaos_concurrent_drains_delete_compact(
    spark, sf_dir, tmp_path
):
    """Chaos pin for the epoch log: after a bootstrap drain, run a
    second drain stream, a tombstone delete, and a compaction ALL
    CONCURRENTLY. Every writer commits through the CAS (losers retry),
    so regardless of interleaving the end state must satisfy: live set
    == everything ingested minus the deleted ids, no duplicate vec_ids,
    and every live posting's cell equals the bootstrap quantizer's
    assignment (neither drains nor compaction move vectors between
    cells)."""
    import threading

    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.operators.clustering import _assign
    from les_etl_pipeline_spark.streaming import ann_index as SA

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    index_dir = str(tmp_path / "chaos_idx")
    s1 = str(tmp_path / "chaos_s1")
    b1.coalesce(1).write.mode("append").parquet(s1)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, s1), index_dir, str(tmp_path / "chaos_c1")
    )
    cents = SA._load_centroids(
        spark, SA._index_root(spark, index_dir) + "/centroids"
    )
    s2 = str(tmp_path / "chaos_s2")
    b2.coalesce(1).write.mode("append").parquet(s2)
    dead = [r.vec_id for r in b1.select("vec_id").limit(4).collect()]
    errors = []

    def run(fn):
        try:
            fn()
        except Exception as e:  # pragma: no cover
            errors.append(e)

    ts = [
        threading.Thread(
            target=run,
            args=(
                lambda: SA.ann_index_sink(
                    SA.read_vector_stream(spark, s2),
                    index_dir,
                    str(tmp_path / "chaos_c2"),
                ),
            ),
        ),
        threading.Thread(
            target=run, args=(lambda: SA.delete_vectors(spark, index_dir, dead),)
        ),
        threading.Thread(
            target=run, args=(lambda: SA.compact_postings(spark, index_dir),)
        ),
    ]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errors
    # a final compaction folds any tombstones that postdate the racing one
    SA.compact_postings(spark, index_dir)
    live = SA._live_postings(spark, index_dir)
    rows = live.collect()
    got_ids = sorted(r.vec_id for r in rows)
    exp_ids = sorted(
        r.vec_id for r in emb.select("vec_id").collect() if r.vec_id not in dead
    )
    assert got_ids == exp_ids  # nothing lost, nothing resurrected
    assert len(got_ids) == len(set(got_ids))  # no duplicates
    exp_assign = {
        r.vec_id: r.cluster
        for r in _assign(SA._doubles(emb, "vec_id", "embedding"), cents).collect()
    }
    for r in rows:
        assert r.cell == exp_assign[r.vec_id]


def test_publish_segment_second_writer_loses_cleanly(spark, tmp_path, monkeypatch):
    """The drain/fold interleaving on one segment, forced: writer B
    publishes the segment while writer A sits between its staging write
    and its rename. A must lose without an error, leave no staging
    debris, and the segment must hold exactly one copy of the rows —
    two Spark writes straight into one segment dir shared a committer
    ``_temporary`` dir and could fail each other's tasks."""
    import os

    from les_etl_pipeline_spark.sinks import atomic
    from les_etl_pipeline_spark.streaming import _exactly_once as xo

    table_path = str(tmp_path / "postings")
    dst = xo.segment(table_path, "0123456789ab", 0)
    rows = spark.range(6).withColumnRenamed("id", "vec_id")
    real_rename = os.rename

    def rename_after_rival(src, target):
        monkeypatch.setattr(atomic.os, "rename", real_rename)
        assert atomic.publish_dir(rows, dst)  # B lands first
        real_rename(src, target)  # A's rename now finds dst taken

    monkeypatch.setattr(atomic.os, "rename", rename_after_rival)
    assert not atomic.publish_dir(rows, dst)
    assert os.listdir(table_path) == [os.path.basename(dst)]
    got = xo.read_table(spark, table_path, "vec_id bigint").collect()
    assert sorted(r.vec_id for r in got) == list(range(6))


def test_delete_before_first_batch_is_noop(spark, sf_dir, tmp_path):
    """A delete on an index that has no generation yet writes nothing:
    it used to publish a pointer epoch naming a root with no quantizer,
    and every later drain failed on the missing centroids."""
    import os

    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.streaming import ann_index as SA

    index_dir = str(tmp_path / "early_del_idx")
    SA.delete_vectors(spark, index_dir, [3])
    assert not os.path.exists(index_dir + "/tombstones")
    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(40)
    )
    stream_dir = str(tmp_path / "early_del_stream")
    emb.coalesce(1).write.parquet(stream_dir)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, stream_dir), index_dir, str(tmp_path / "early_del_c")
    )
    drained = sorted(r.vec_id for r in emb.collect())
    live = sorted(r.vec_id for r in SA._live_postings(spark, index_dir).collect())
    assert len(drained) == 40 and live == drained


def test_vacuum_index_state_keeps_live_generation(spark, sf_dir, tmp_path):
    """Epoch-log hygiene: vacuum drops superseded pointer epochs and
    retired generations but never the live generation or epochs after
    it; search is unaffected."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.streaming import ann_index as SA

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stream_dir = str(tmp_path / "vac_stream")
    emb.coalesce(1).write.mode("append").parquet(stream_dir)
    index_dir = str(tmp_path / "vac_idx")
    SA.ann_index_sink(
        SA.read_vector_stream(spark, stream_dir), index_dir, str(tmp_path / "vac_c1")
    )
    v = SA.retrain_index(spark, index_dir)
    SA.delete_vectors(spark, index_dir, [3])  # pointer epoch after the gen
    queries = emb.where(F.col("vec_id") % 25 == 0)
    before = sorted(
        map(tuple, SA.ivf_search_index(spark, index_dir, queries, k=5, n_probe=2).collect())
    )
    dropped = SA.vacuum_index_state(spark, index_dir)
    assert dropped and all(d < v for d in dropped)
    import os

    assert os.path.isdir(index_dir + f"/state/v={v}")
    after = sorted(
        map(tuple, SA.ivf_search_index(spark, index_dir, queries, k=5, n_probe=2).collect())
    )
    assert after == before


def test_streaming_ann_index_second_stream_into_existing_index(
    spark, sf_dir, tmp_path
):
    """The ADVICE r8 high defect, pinned directly: a SECOND stream (new
    checkpoint, batch ids restarting at 0) draining into an existing
    index must ingest its batches instead of being skipped as replays."""
    from les_etl_pipeline_spark.catalog import table
    from les_etl_pipeline_spark.streaming import ann_index as SA

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    index_dir = str(tmp_path / "two_stream_idx")
    s1 = str(tmp_path / "ts_s1")
    b1.coalesce(1).write.mode("append").parquet(s1)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, s1), index_dir, str(tmp_path / "ts_c1")
    )
    s2 = str(tmp_path / "ts_s2")
    b2.coalesce(1).write.mode("append").parquet(s2)
    SA.ann_index_sink(
        SA.read_vector_stream(spark, s2), index_dir, str(tmp_path / "ts_c2")
    )
    got = {r.vec_id for r in SA._live_postings(spark, index_dir).collect()}
    assert got == {r.vec_id for r in emb.select("vec_id").collect()}


def test_streaming_cluster_table_matches_batch_cc_every_batch(spark, tmp_path):
    """Incremental connected-components maintenance (VERDICT r12 #5):
    after EVERY drained micro-batch the persisted cluster table must be
    bit-equal to running batch ``connected_components`` over the full
    cumulative pairs log — including the batch where one new document
    links two previously separate clusters (a merge event relabeling
    existing rows). The fixture is built so the observed-pairs CC also
    equals full-corpus CC, asserted as well."""
    from les_etl_pipeline_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )
    from les_etl_pipeline_spark.streaming import dedup_index as SD

    # word-trigram corpus: A-family (docs 1, 2), B-family (docs 10, 11),
    # and doc 5 = A's words + B's words, overlapping both families above
    # threshold -> arriving last, it MERGES cluster 1 and cluster 10
    text_a = "a1 a2 a3 a4 a5 a6 a7 a8"
    text_b = "b1 b2 b3 b4 b5 b6 b7 b8"
    bridge = text_a + " " + text_b
    batches = [
        [(1, text_a), (10, text_b)],                      # no pairs yet
        [(2, text_a + " a9"), (11, text_b + " b9")],      # two clusters
        [(5, bridge)],                                     # merge event
    ]
    stream_dir = str(tmp_path / "docs_stream")
    index_dir = str(tmp_path / "cc_index")
    ckpt = str(tmp_path / "ckpt_cc")
    seen: list[tuple[int, str]] = []
    expected_clusters_per_batch = []
    for i, rows in enumerate(batches):
        seen += rows
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.mode("append").parquet(stream_dir)
        SD.dedup_index_sink(
            SD.read_document_stream(spark, stream_dir), index_dir, ckpt,
            threshold=0.3,
        )
        got = {
            (r.doc_id, r.cluster)
            for r in SD.read_clusters(spark, index_dir).collect()
        }
        pairs = SD.read_pairs(spark, index_dir).select("id_a", "id_b")
        exp = {
            (r.doc_id, r.cluster)
            for r in connected_components(pairs).collect()
        }
        assert got == exp, f"batch {i}: clusters diverge from batch CC"
        expected_clusters_per_batch.append(got)
        if i < len(batches) - 1:
            time.sleep(1.05)  # file source orders micro-batches by mtime
    # the fixture actually exercised the merge path: before the bridge,
    # two separate clusters; after, one component labeled min id 1
    assert expected_clusters_per_batch[1] == {(1, 1), (2, 1), (10, 10), (11, 10)}
    assert expected_clusters_per_batch[2] == {
        (1, 1), (2, 1), (5, 1), (10, 1), (11, 1)
    }
    # on this fixture observed-pairs CC == full-corpus CC too
    full = spark.createDataFrame(seen, "doc_id bigint, text string")
    full_cc = {
        (r.doc_id, r.cluster)
        for r in connected_components(
            ngram_jaccard_pairs(full, threshold=0.3)
        ).collect()
    }
    assert expected_clusters_per_batch[-1] == full_cc
    # exactly-once: re-draining the consumed stream leaves clusters
    # byte-identical (the fold of already-seen edges is a no-op)
    SD.dedup_index_sink(
        SD.read_document_stream(spark, stream_dir), index_dir, ckpt,
        threshold=0.3,
    )
    got = {
        (r.doc_id, r.cluster)
        for r in SD.read_clusters(spark, index_dir).collect()
    }
    assert got == full_cc


def test_streaming_gapfill_matches_batch_operator(spark, tmp_path):
    """Streaming gap-fill twin (VERDICT r12 #7): cumulative emitted
    rows bit-equal to batch gapfill_daily over all observations after
    EVERY drained batch — through a quiet series resuming ACROSS a
    state compaction, within-batch out-of-order days, NULL day/value
    rows, and a re-drain no-op; a late (day-regressing) row raises."""
    import datetime as _dt

    from les_etl_pipeline_spark.operators.timeseries import gapfill_daily
    from les_etl_pipeline_spark.streaming import gapfill as SG

    d = lambda i: _dt.date(2024, 5, 1) + _dt.timedelta(days=i)
    batches = [
        [("a", d(0), 10), ("a", d(1), 20), ("c", d(0), 4)],
        [("b", d(2), 7), ("c", None, 99)],          # NULL day ignored
        [("d", d(5), 1), ("d", d(3), 9), ("c", d(2), 6), ("c", d(3), None)],
        [("a", d(9), 2)],                            # quiet series resumes
    ]
    schema = "s string, day date, v long"
    stream_dir = str(tmp_path / "obs_stream")
    index_dir = str(tmp_path / "gf_index")
    ckpt = str(tmp_path / "ckpt_gf")
    fs = SG.filled_schema_of(
        spark.createDataFrame([], schema), ["s"], "day", "v"
    )

    def batch_expected(rows):
        df = spark.createDataFrame(rows, schema)
        return {tuple(r) for r in gapfill_daily(df, ["s"], "day", "v").collect()}

    seen: list = []
    for i, rows in enumerate(batches):
        if i == 3:
            # compaction while series 'a' is quiet: the resumed fill in
            # the NEXT batch must bridge from compacted state
            before, after = SG.compact_state(
                spark, index_dir, ["s"], "day", "v", schema
            )
            assert after <= before
        seen += rows
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(stream_dir)
        SG.gapfill_sink(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir),
            index_dir, ckpt, ["s"], "day", "v",
        )
        got = {tuple(r) for r in SG.read_filled(spark, index_dir, fs).collect()}
        assert got == batch_expected(seen), f"batch {i} diverged"
        time.sleep(1.05)
    # the quiet-span bridge actually happened: days 2..8 of series 'a'
    # are gap rows locf=20, interp sloping 20 -> 2
    byday = {
        r.day: (r.v, r.locf, r.interp)
        for r in SG.read_filled(spark, index_dir, fs).where("s = 'a'").collect()
    }
    assert byday[d(5)] == (None, 20, 20 + (2 - 20) * (4 / 8))
    assert len(byday) == 10
    # exactly-once: re-draining the consumed stream changes nothing
    SG.gapfill_sink(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir),
        index_dir, ckpt, ["s"], "day", "v",
    )
    got = {tuple(r) for r in SG.read_filled(spark, index_dir, fs).collect()}
    assert got == batch_expected(seen)
    # late data fails loudly instead of silently diverging from batch
    spark.createDataFrame([("a", d(4), 5)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(stream_dir)
    with pytest.raises(Exception, match="late observation"):
        SG.gapfill_sink(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir),
            index_dir, ckpt, ["s"], "day", "v",
        )


def test_cluster_table_folds_publish_only_touched_buckets(spark, tmp_path):
    """The cluster table's per-batch persistence is a PARTITION-SCOPED
    snapshot publish: every bucket dir shared between consecutive
    versions is either declared touched in the newer version's _TX_META
    or consists entirely of HARDLINKS of the older version's files
    (same inode — composed, not rewritten). That is the O(changed
    buckets) write-cost claim, pinned structurally."""
    import json as _json
    import os as _os

    from les_etl_pipeline_spark.streaming import dedup_index as SD

    text_a = "a1 a2 a3 a4 a5 a6 a7 a8"
    text_b = "b1 b2 b3 b4 b5 b6 b7 b8"
    batches = [
        [(1, text_a), (2, text_a + " x"), (10, text_b)],   # cluster {1,2}
        [(11, text_b + " y")],                              # cluster {10,11}
    ]
    stream_dir = str(tmp_path / "docs_stream")
    index_dir = str(tmp_path / "tb_index")
    ckpt = str(tmp_path / "ckpt_tb")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.mode("append").parquet(stream_dir)
        SD.dedup_index_sink(
            SD.read_document_stream(spark, stream_dir), index_dir, ckpt,
            threshold=0.3,
        )
        if i < len(batches) - 1:
            time.sleep(1.05)
    croot = _os.path.join(index_dir, "clusters")
    versions = sorted(
        int(n[2:]) for n in _os.listdir(croot) if n.startswith("v=")
    )
    assert len(versions) >= 2
    checked_hardlink = 0
    for prev, cur in zip(versions, versions[1:]):
        pd_ = _os.path.join(croot, f"v={prev}")
        cd = _os.path.join(croot, f"v={cur}")
        with open(_os.path.join(cd, "_TX_META")) as f:
            meta = _json.load(f)
        assert meta["partition_by"] == "bkt"
        touched = set(meta["touched"])
        shared = {
            n
            for n in _os.listdir(cd)
            if n.startswith("bkt=") and _os.path.isdir(_os.path.join(pd_, n))
        }
        for part in shared - touched:
            for fn in _os.listdir(_os.path.join(cd, part)):
                a = _os.stat(_os.path.join(cd, part, fn)).st_ino
                b = _os.stat(_os.path.join(pd_, part, fn)).st_ino
                assert a == b, (part, fn, "rewritten but not declared touched")
                checked_hardlink += 1
    # the fixture must actually exercise an untouched carried bucket
    assert checked_hardlink > 0
