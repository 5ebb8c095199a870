"""Streaming incremental aggregate maintenance: a foreachBatch sink that
folds each micro-batch's PARTIAL aggregate states into a persistent
running state — the streaming face of the merge(partials) == recompute
invariant that ``agg_incremental_merge`` proves batch-side.

Why not just a streaming groupBy in complete mode? Complete mode
re-emits the entire result every batch and keeps all groups in operator
state forever; this sink keeps the state as a (tiny) aggregate TABLE on
storage — per batch it reads state, merges one batch's partials, and
atomically replaces the state. That is the continuous-materialized-view
pattern: at 100 TB the stream never rescans history, the state table is
group-cardinality-sized, and exactly-once comes from the checkpointed
batch id (a replayed batch id is skipped via the ledger column). The
state is swapped by ``sinks/atomic.replace_dir``, so a crash leaves the
old or the new state, never a half-written one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sinks import atomic

STATE_SCHEMA = "grp string, n bigint, s double, mn double, mx double, last_batch bigint"


def incremental_agg_to_state(
    stream_df: DataFrame,
    group_col: str,
    value_col: str,
    state_path: str,
    checkpoint_dir: str,
):
    """Run the stream with a foreachBatch that maintains per-group
    (count, sum, min, max) states in a parquet state table. Derived
    values (avg) come from the state at read time — avg is not
    mergeable, its state is (sum, n). Returns the finished query
    (availableNow trigger)."""
    spark = stream_df.sparkSession

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy(F.col(group_col).alias("grp")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("double")).alias("s"),
            F.min(F.col(value_col).cast("double")).alias("mn"),
            F.max(F.col(value_col).cast("double")).alias("mx"),
        )
        atomic.recover(state_path)  # a crashed swap must not read as "no state"
        if os.path.exists(state_path):
            state = spark.read.schema(STATE_SCHEMA).parquet(state_path)
            # exactly-once: foreachBatch can replay a batch after a
            # failure; a batch id already folded into the state is a no-op
            if state.where(F.col("last_batch") >= batch_id).limit(1).count() > 0:
                return
            merged = (
                state.drop("last_batch")
                .unionByName(partial)
                .groupBy("grp")
                .agg(
                    F.sum("n").alias("n"),
                    F.sum("s").alias("s"),
                    F.min("mn").alias("mn"),
                    F.max("mx").alias("mx"),
                )
            )
        else:
            merged = partial
        atomic.replace_dir(
            merged.withColumn("last_batch", F.lit(batch_id).cast("bigint")),
            state_path,
        )

    q = (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def read_state(spark, state_path: str) -> DataFrame:
    """The maintained aggregate view, with derived avg."""
    st = spark.read.schema(STATE_SCHEMA).parquet(state_path)
    return st.select(
        "grp", "n", "s", "mn", "mx", (F.col("s") / F.col("n")).alias("avg")
    )
