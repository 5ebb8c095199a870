"""Streaming sketch materialized view: a foreachBatch sink that folds
each micro-batch into persisted MERGEABLE sketches — the KLL-family rank
sketch (quantiles of a metric) and the KMV bottom-k sketch (distinct
keys seen) from ``operators/sketches.py``.

Why this exists: a 100 TB ingest wants always-current quantiles and
distinct counts over EVERYTHING ingested so far, without a history
rescan per batch and without unbounded streaming-aggregation state.
Both r10 sketches were built canonical (per-item md5 coins — a pure
function of the input multiset), which buys the streaming tier two
properties position-parity sketches cannot offer:

- **Streamed == batch, bit-for-bit.** merge(state, batch) over any batch
  boundary sequence equals the single build over the union, so the MV's
  state is EXACTLY the sketch a batch job would compute over all
  ingested rows — pinned by test, not approximately-equal.
- **Content idempotence.** Folding the same rows twice is a no-op
  (coins are deterministic per row key; the distinct-union merge
  collapses replays), so even a replay the ledger cannot see — a NEW
  checkpoint draining already-folded files — cannot corrupt the state.

Exactly-once is simpler here than the index sinks' segment ledger: the
state (kll rows + kmv rows + a per-checkpoint high-water-mark manifest)
is published as ONE atomic ``SnapshotStore`` version per batch with
``expected_version`` CAS, so the ledger commits atomically WITH the
data — there is no window between them to crash in. A replayed batch id
is skipped by the manifest; a crash before the claim left no trace and
the replay simply redoes the fold.

Per-batch cost: one scan of the batch (coin projection + bounded
aggregates), a merge over <= capacity + batch-survivor rows, one tiny
state write. The KMV bottom-k uses orderBy().limit(k)
(TakeOrderedAndProject — distributed top-k, never a single-task global
sort or an unpartitioned window).

``sketch_mv_sink_grouped`` (round 11) keys everything by group columns
— per-source/per-language quantile and distinct monitoring — with the
level-floored ``kll_merge_grouped`` fold and the two-phase grouped
bottom-k; state is (capacity + k) x n_groups rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import sketches
from . import _exactly_once as xo

#: lstar rides on every state row: the fold's merge needs the state's
#: compaction depth to floor the merged l* (a level-l' sample computes
#: exact per-level counts only at l >= l' — see ``sketches.kll_merge``).
#: Without it a small micro-batch folding into compacted history kept
#: its rows at a shallower sampling rate (VERDICT r10 #1).
KLL_STATE_SCHEMA = "v double, u bigint, lstar int"
KMV_STATE_SCHEMA = "h bigint"
_MANIFEST = "_MANIFEST.json"
#: one state version lands per folded batch, so the sinks vacuum all but
#: the trailing N after each publish (unlike the ANN epoch log, MV
#: versions reference nothing outside themselves, so the stock keep-last
#: policy is safe). The cushion covers the TOCTOU of a concurrent stream
#: still reading an older version mid-fold — its CAS retry re-reads anyway.
_VACUUM_KEEP_LAST = 8


def _store(spark, state_dir: str):
    from ..sinks.snapshot_store import SnapshotStore

    return SnapshotStore(spark, state_dir)


def _read_state(
    spark,
    store,
    kll_schema: str = KLL_STATE_SCHEMA,
    kmv_schema: str = KMV_STATE_SCHEMA,
) -> tuple[DataFrame, DataFrame, dict]:
    cur = store.current_version()
    if cur is None:
        return (
            spark.createDataFrame([], kll_schema),
            spark.createDataFrame([], kmv_schema),
            {},
        )
    path = store.version_path(cur)
    with open(os.path.join(path, _MANIFEST)) as f:
        manifest = json.load(f)
    kll = spark.read.schema(kll_schema).parquet(os.path.join(path, "kll"))
    kmv = spark.read.schema(kmv_schema).parquet(os.path.join(path, "kmv"))
    return kll, kmv, manifest


def _kmv_bottom_k(coins: DataFrame, k: int) -> DataFrame:
    """Global (ungrouped) bottom-k of distinct coins via sort-limit —
    TakeOrderedAndProject, the distributed top-k plan."""
    return coins.distinct().orderBy("h").limit(k)


def sketch_mv_sink(
    stream_df: DataFrame,
    value_col: str,
    key,
    state_dir: str,
    checkpoint_dir: str,
    capacity: int = 4096,
    kmv_k: int = 128,
    max_attempts: int = 10,
):
    """Drain ``stream_df`` (availableNow) into the sketch MV under
    ``state_dir``. ``key`` is the unique-per-row deterministic Column
    the coins derive from (globally unique across batches — the same
    contract as ``kll_build``; it is what makes replays collapse).
    Returns the finished query."""
    from ..sinks.snapshot_store import EXPECT_EMPTY, ConcurrentWriteError

    spark = stream_df.sparkSession
    ckpt = xo.ckpt_key(checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        store = _store(spark, state_dir)
        batch_kll = sketches.kll_build(
            batch_df, value_col, key, capacity=capacity
        ).select("v", "u", "lstar")
        batch_kmv = _kmv_bottom_k(
            batch_df.select(sketches._kll_coin(key).alias("h")), kmv_k
        )
        for _ in range(max_attempts):
            cur = store.current_version()
            prev_kll, prev_kmv, manifest = _read_state(spark, store)
            if manifest.get(ckpt, -1) >= batch_id:
                return  # replayed batch: already folded, atomically
            # dedup-union merge: exact (coins are unique per row) and
            # content-idempotent — a replayed row contributes no new
            # (v, u) pair, and max(lstar) keeps the DEEPEST compaction
            # depth a duplicate was seen at, so the merge floor stays
            # valid even when a new-checkpoint replay re-folds rows the
            # state already compacted
            folded = prev_kll.unionByName(batch_kll).groupBy("v", "u").agg(
                F.max("lstar").alias("lstar")
            )
            new_kll = sketches.kll_merge(folded, capacity=capacity)
            new_kmv = _kmv_bottom_k(prev_kmv.unionByName(batch_kmv), kmv_k)
            new_manifest = dict(manifest)
            new_manifest[ckpt] = batch_id

            def build(staging: str, kll=new_kll, kmv=new_kmv, m=new_manifest):
                kll.write.parquet(os.path.join(staging, "kll"))
                kmv.write.parquet(os.path.join(staging, "kmv"))
                with open(os.path.join(staging, _MANIFEST), "w") as f:
                    json.dump(m, f)

            try:
                store.publish_dir(
                    build,
                    expected_version=EXPECT_EMPTY if cur is None else cur,
                )
                store.vacuum(keep_last=_VACUUM_KEEP_LAST)
                return
            except ConcurrentWriteError:
                continue  # another stream folded its batch first; re-read
        raise ConcurrentWriteError(
            f"sketch MV {state_dir}: lost {max_attempts} straight CAS races"
        )

    q = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _grouped_schemas(group_schema: str) -> tuple[str, str]:
    return (
        f"{group_schema}, {KLL_STATE_SCHEMA}",
        f"{group_schema}, {KMV_STATE_SCHEMA}",
    )


def sketch_mv_sink_grouped(
    stream_df: DataFrame,
    group_cols: list[str],
    group_schema: str,
    value_col: str,
    key,
    state_dir: str,
    checkpoint_dir: str,
    capacity: int = 4096,
    kmv_k: int = 128,
    max_attempts: int = 10,
):
    """Per-group sketch MV — ``sketch_mv_sink`` with every sketch keyed
    by ``group_cols`` (per-source / per-language length and distinct
    monitoring, the realistic shape of a curation dashboard). Each
    group gets its own KLL l* (``kll_build_grouped``) and its own
    bottom-k (the two-phase ``_bottom_k_grouped`` — no task ever sorts
    a hot group's coin set, even inside a batch), folds use the
    level-floored ``kll_merge_grouped``, and state size is bounded by
    (capacity + k) x n_groups rows. ``group_schema`` (e.g. ``"source
    string"``) pins the persisted state's group column types — parquet
    state must be schema-stable across batches. Same exactly-once
    contract as the ungrouped sink: one atomic state+HWM publish per
    batch, CAS-arbitrated, content-idempotent across replays."""
    from ..sinks.snapshot_store import EXPECT_EMPTY, ConcurrentWriteError

    spark = stream_df.sparkSession
    ckpt = xo.ckpt_key(checkpoint_dir)
    kll_schema, kmv_schema = _grouped_schemas(group_schema)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        store = _store(spark, state_dir)
        batch_kll = sketches.kll_build_grouped(
            batch_df, group_cols, value_col, key, capacity=capacity
        ).select(*group_cols, "v", "u", "lstar")
        batch_kmv = sketches._bottom_k_grouped(
            batch_df.select(*group_cols, sketches._kll_coin(key).alias("h")),
            group_cols,
            kmv_k,
        )
        for _ in range(max_attempts):
            cur = store.current_version()
            prev_kll, prev_kmv, manifest = _read_state(
                spark, store, kll_schema, kmv_schema
            )
            if manifest.get(ckpt, -1) >= batch_id:
                return  # replayed batch: already folded, atomically
            # per-group dedup-union fold: max(lstar) keeps each group's
            # deepest observed compaction so the per-group level floor
            # stays valid under ledger-invisible replays
            folded = (
                prev_kll.unionByName(batch_kll)
                .groupBy(*group_cols, "v", "u")
                .agg(F.max("lstar").alias("lstar"))
            )
            new_kll = sketches.kll_merge_grouped(
                folded, group_cols, capacity=capacity
            )
            new_kmv = sketches.kmv_merge(
                prev_kmv.unionByName(batch_kmv), group_cols, kmv_k
            )
            new_manifest = dict(manifest)
            new_manifest[ckpt] = batch_id

            def build(staging: str, kll=new_kll, kmv=new_kmv, m=new_manifest):
                kll.write.parquet(os.path.join(staging, "kll"))
                kmv.write.parquet(os.path.join(staging, "kmv"))
                with open(os.path.join(staging, _MANIFEST), "w") as f:
                    json.dump(m, f)

            try:
                store.publish_dir(
                    build,
                    expected_version=EXPECT_EMPTY if cur is None else cur,
                )
                store.vacuum(keep_last=_VACUUM_KEEP_LAST)
                return
            except ConcurrentWriteError:
                continue  # another stream folded its batch first; re-read
        raise ConcurrentWriteError(
            f"sketch MV {state_dir}: lost {max_attempts} straight CAS races"
        )

    q = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def read_mv_quantiles_grouped(
    spark, state_dir: str, group_cols: list[str], group_schema: str,
    probs: list[float],
) -> DataFrame:
    """(group..., p, q) per-group quantile estimates over everything
    ingested so far; each group's window ranks <= capacity rows."""
    kll_schema, kmv_schema = _grouped_schemas(group_schema)
    kll, _, _ = _read_state(spark, _store(spark, state_dir), kll_schema, kmv_schema)
    return sketches.kll_quantiles_grouped(kll, group_cols, probs)


def read_mv_distinct_grouped(
    spark, state_dir: str, group_cols: list[str], group_schema: str,
    kmv_k: int = 128,
) -> DataFrame:
    """(group..., n_distinct_est) per group — exact while a group has
    seen fewer than k distinct keys."""
    kll_schema, kmv_schema = _grouped_schemas(group_schema)
    _, kmv, _ = _read_state(spark, _store(spark, state_dir), kll_schema, kmv_schema)
    return sketches.kmv_distinct_estimate(kmv, group_cols, kmv_k)


def read_mv_quantiles(spark, state_dir: str, probs: list[float]) -> DataFrame:
    """(p, q) quantile estimates over everything ingested so far."""
    kll, _, _ = _read_state(spark, _store(spark, state_dir))
    return sketches.kll_quantiles(kll, probs)


def read_mv_distinct(spark, state_dir: str, kmv_k: int = 128) -> DataFrame:
    """1-row distinct-count estimate over everything ingested so far
    (exact while fewer than k distinct keys have been seen)."""
    _, kmv, _ = _read_state(spark, _store(spark, state_dir))
    scale = float((kmv_k - 1) * (1 << sketches.KLL_COIN_BITS))
    agg = kmv.agg(F.count(F.lit(1)).alias("_c"), F.max("h").alias("_hk"))
    from ..functions.rounding import hround

    est = F.when(F.col("_c") < F.lit(kmv_k), F.col("_c").cast("double")).otherwise(
        F.lit(scale) / F.col("_hk").cast("double")
    )
    return agg.select(hround(est, 2).alias("n_distinct_est"))
