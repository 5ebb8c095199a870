"""Streaming gap-fill: the foreachBatch incremental twin of
``operators/timeseries.gapfill_daily`` (VERDICT r12 #7) — the same
streamed == batch bit-exact contract as the sketch MV and the dedup
index.

Incrementality argument: every gapfill output value for a day d depends
only on the nearest observation at-or-before d and the nearest
at-or-after d. With per-series arrival in day order, those are both
visible by the time the AT-OR-AFTER observation lands — so each
micro-batch can emit, exactly once and bit-equal to the batch operator,
all days in (last carried observation, batch's max observed day] per
series: the carried observation (one row per series: last observed day
+ value) is unioned with the batch's observations and the BATCH
operator itself runs on that mini-frame (per-series calendar =
[carried day, new max day]), with the carried day's own row anti-joined
away because the previous batch already emitted it. Late rows (a day
<= the carried day for a known series) would require retracting emitted
rows, so they FAIL LOUDLY — silent divergence from the batch twin is
the one thing this module exists to prevent.

State = an append-only parquet log (one upsert row per (series, batch)
with the series' newest observed day + value), written through the
shared exactly-once machinery (per-(checkpoint, batch) segments +
high-water-mark ledger, ``streaming/_exactly_once.py``): reading state
is "row with the maximum day per series", which is replay-stable
because a series' carried day strictly increases — no swap, no pointer
file, and a crashed batch replays into byte-identical segments (each
published whole by ``sinks/atomic.publish_dir``). ``compact_state``
rewrites the log to one row per series (``atomic.replace_dir``, with
``atomic.recover`` repair), bounding the log at (series x 1) — the
compaction the chaos test drives a quiet series across.

Scale shape: per batch the mini-frame is (batch rows + one carried row
per touched series); densification stays at calendar grain exactly as
in the batch operator. The state log is series-cardinality metadata.

Reference parity: none (no time-series surface in the reference —
SURVEY.md §2.12 gap families).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.timeseries import gapfill_daily
from ..sinks import atomic
from . import _exactly_once as xo


def _schema_of(df: DataFrame, cols: list[str]) -> str:
    by_name = {f.name: f for f in df.schema.fields}
    return ", ".join(
        f"{c} {by_name[c].dataType.simpleString()}" for c in cols
    )


def read_state(spark, index_dir: str, schema: str, series_cols: list[str],
               day_col: str, value_col: str) -> DataFrame:
    """Current carried observation per series: the row with the maximum
    day across all committed state-log segments (per-series days
    strictly increase, so max-day IS the newest upsert)."""
    path = os.path.join(index_dir, "state")
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    log = xo.read_table(spark, path, schema)
    return log.groupBy(*series_cols).agg(
        F.max(day_col).alias(day_col),
        F.max_by(value_col, day_col).alias(value_col),
    )


def filled_schema_of(
    df: DataFrame, series_cols: list[str], day_col: str, value_col: str
) -> str:
    """Schema of the emitted fill rows — the batch operator's output
    contract: observed value (NULL on gap days), locf, surfaced
    prev/next bounds, interp."""
    vt = dict(df.dtypes)[value_col]
    return (
        _schema_of(df, list(series_cols) + [day_col, value_col])
        + f", locf {vt}, prev_day date, next_day date, interp double"
    )


def read_filled(spark, index_dir: str, schema: str) -> DataFrame:
    return xo.read_table(spark, os.path.join(index_dir, "filled"), schema)


def gapfill_sink(
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    series_cols: list[str],
    day_col: str = "day",
    value_col: str = "v",
):
    """Drain ``stream_df`` (availableNow) through the incremental
    gap-fill. Emits, per micro-batch, the fully filled rows the batch
    operator would produce for the newly covered days — cumulative
    output is pinned bit-equal to ``gapfill_daily`` over all
    observations. Contract: day-grain rows (one (series, day) ever),
    per-series day-ordered ACROSS batches; NULL day/value rows are not
    observations (the batch operator's contract); a late row raises."""
    spark = stream_df.sparkSession
    scols = list(series_cols)
    obs_cols = scols + [day_col, value_col]
    state_schema = _schema_of(stream_df, obs_cols)
    filled_path = os.path.join(index_dir, "filled")
    state_path = os.path.join(index_dir, "state")
    key = xo.ckpt_key(checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if xo.committed(index_dir, key, batch_id):
            return
        atomic.recover(state_path)
        xo.clear_segments([filled_path, state_path], key, batch_id)
        obs = (
            batch_df.where(
                F.col(day_col).isNotNull() & F.col(value_col).isNotNull()
            )
            .select(*obs_cols)
            .localCheckpoint()  # feeds regression check, fill, state
        )
        st = read_state(
            spark, index_dir, state_schema, scols, day_col, value_col
        ).localCheckpoint()
        # fail-loud lateness: a row at-or-before the carried day would
        # require retracting already-emitted fills
        late = (
            obs.alias("o")
            .join(st.alias("s"), scols)
            .where(F.col(f"o.{day_col}") <= F.col(f"s.{day_col}"))
            .limit(1)
            .count()
        )
        if late:
            raise ValueError(
                "gapfill_sink: late observation at-or-before a series' "
                "carried day — per-series arrival must be day-ordered "
                "across batches (the emitted fill is append-only)"
            )
        mini = obs.unionByName(st)
        filled = gapfill_daily(mini, scols, day_col, value_col)
        # the carried day's row was emitted by the batch that observed it
        new_rows = filled.join(
            st.select(*scols, day_col), scols + [day_col], "left_anti"
        )
        atomic.publish_dir(
            new_rows.select(*[F.col(c) for c in new_rows.columns]),
            xo.segment(filled_path, key, batch_id),
        )
        # state upsert: each touched series' newest observation
        atomic.publish_dir(
            obs.groupBy(*scols).agg(
                F.max(day_col).alias(day_col),
                F.max_by(value_col, day_col).alias(value_col),
            ),
            xo.segment(state_path, key, batch_id),
        )
        xo.commit(index_dir, key, batch_id)

    q = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


#: series-hash bucket count for the upsert sink's filled store — the
#: same partition-scoped-publish sizing idea as the dedup cluster table:
#: a batch's publish rewrites only buckets holding a touched series.
FILLED_BUCKETS = 32


def read_filled_upsert(spark, index_dir: str) -> DataFrame:
    """Current filled table of the UPSERT sink (the SnapshotStore
    layout), bucket column dropped."""
    from ..sinks.snapshot_store import SnapshotStore

    store = SnapshotStore(spark, os.path.join(index_dir, "filled_store"))
    if store.current_version() is None:
        raise ValueError(f"no filled store published under {index_dir}")
    return store.read().drop("bkt")


def gapfill_upsert_sink(
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    series_cols: list[str],
    day_col: str = "day",
    value_col: str = "v",
    buckets: int = FILLED_BUCKETS,
):
    """Late-data twin of ``gapfill_sink`` (VERDICT r13 #4): instead of
    failing on a late observation, re-emit the CORRECTED fill for the
    affected series, keeping the invariant that after every micro-batch
    the published table is bit-equal to batch ``gapfill_daily`` over
    all observations ever drained — late rows included.

    A late row retracts already-emitted rows (its series' locf/interp
    change, and a row before the series' first day even moves the
    calendar start), so the output cannot be an append-only segment
    log. The filled table lives in a ``SnapshotStore`` hive-partitioned
    by a series-hash bucket, and each batch REBUILDS ONLY ITS TOUCHED
    SERIES: the series' prior observations are recovered from its own
    published rows (value is non-NULL exactly on observation days),
    unioned with the batch, and the batch operator reruns on that
    mini-frame; ``publish_partitions`` then rewrites only the buckets
    holding a touched series, hardlink-carrying every other bucket
    (O(touched series' calendar), never table-scale writes).

    Contract: one (series, day) observation EVER — a second value for
    an already-observed day raises (corrections-by-day need a different
    operator); a byte-identical duplicate is treated as a replay and
    converges. Exactly-once: per-checkpoint ledger; a replay (or a
    crash between publish and ledger commit) recomputes the same
    series from the same observation set, detects zero change and
    skips the publish — no version churn, same table."""
    from ..sinks.snapshot_store import SnapshotStore

    spark = stream_df.sparkSession
    scols = list(series_cols)
    obs_cols = scols + [day_col, value_col]
    filled_schema = filled_schema_of(stream_df, scols, day_col, value_col)
    key = xo.ckpt_key(checkpoint_dir)
    store = SnapshotStore(spark, os.path.join(index_dir, "filled_store"))
    bkt = F.pmod(F.xxhash64(*scols), F.lit(buckets)).cast("int").alias("bkt")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if xo.committed(index_dir, key, batch_id):
            return
        obs = (
            batch_df.where(
                F.col(day_col).isNotNull() & F.col(value_col).isNotNull()
            )
            .select(*obs_cols)
            .localCheckpoint()  # feeds guard, recompute, touched calc
        )
        cur_v = store.current_version()
        if cur_v is not None:
            cur = store.read().drop("bkt")
        else:
            cur = spark.createDataFrame([], filled_schema)
        prior_obs = cur.where(F.col(value_col).isNotNull()).select(*obs_cols)
        # same-day contract: a conflicting value for an observed day is
        # an error; an identical row is a replay and falls through to
        # the (idempotent) recompute
        conflict = (
            obs.alias("o")
            .join(prior_obs.alias("p"), scols + [day_col])
            .where(F.col(f"o.{value_col}") != F.col(f"p.{value_col}"))
            .limit(1)
            .count()
        )
        if conflict:
            raise ValueError(
                "gapfill_upsert_sink: conflicting value for an already-"
                "observed (series, day) — observations are immutable; "
                "day-level corrections need a last-wins operator"
            )
        touched_series = obs.select(*scols).distinct().localCheckpoint()
        mini = (
            prior_obs.join(touched_series, scols, "left_semi")
            .unionByName(obs)
            .dropDuplicates(scols + [day_col])
        )
        refilled = gapfill_daily(mini, scols, day_col, value_col)
        refilled = refilled.localCheckpoint()  # change check + publish
        cur_touched = cur.join(touched_series, scols, "left_semi")
        changed = (
            refilled.exceptAll(cur_touched).limit(1).count()
            or cur_touched.exceptAll(refilled).limit(1).count()
        )
        if changed:
            touched_bkts = touched_series.select(bkt).distinct()
            out = (
                cur.withColumn("bkt", F.pmod(F.xxhash64(*scols), F.lit(buckets)).cast("int"))
                .join(F.broadcast(touched_bkts), "bkt")
                .join(touched_series, scols, "left_anti")
                .unionByName(refilled.withColumn(
                    "bkt", F.pmod(F.xxhash64(*scols), F.lit(buckets)).cast("int")
                ))
            )
            store.publish_partitions(out, "bkt", read_version=cur_v)
            store.vacuum()
        xo.commit(index_dir, key, batch_id)

    q = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def compact_state(
    spark, index_dir: str, series_cols: list[str], day_col: str,
    value_col: str, state_schema: str, partitions: int = 4
) -> tuple[int, int]:
    """Rewrite the state log to ONE row per series (the current carried
    observation), by ``atomic.replace_dir`` — same protocol as the
    dedup index compactor; never concurrent with an active drain
    (single-writer contract). Returns (rows_before, rows_after)."""
    state_path = os.path.join(index_dir, "state")
    atomic.recover(state_path)
    if not os.path.isdir(state_path):
        # nothing drained yet — same guard as read_state/gapfill_sink
        # (ADVICE r13: compacting a virgin sink raised from read_table
        # and the backup rename instead of no-op'ing)
        return 0, 0
    xo.drop_uncommitted_segments(index_dir, [state_path])
    log = xo.read_table(spark, state_path, state_schema)
    before = log.count()
    cur = log.groupBy(*series_cols).agg(
        F.max(day_col).alias(day_col),
        F.max_by(value_col, day_col).alias(value_col),
    )
    atomic.replace_dir(cur.repartition(partitions, *series_cols), state_path)
    return before, spark.read.schema(state_schema).parquet(state_path).count()
