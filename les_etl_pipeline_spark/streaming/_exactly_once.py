"""Exactly-once machinery shared by the streaming index sinks
(``dedup_index``, ``gapfill`` and ``ann_index``).

Why not the data's ``batch`` column? foreachBatch batch ids are
PER-CHECKPOINT (they restart at 0 for every new stream/checkpoint), so a
ledger that scans a global log for ``batch >= batch_id`` wrongly skips
the first batches of any NEW stream draining into an existing index
(ADVICE r8, high). The ledger here is keyed by CHECKPOINT IDENTITY:

- ``<index_dir>/_ledger/<ckpt_key>`` holds that checkpoint's committed
  high-water mark (batch ids within one checkpoint are monotonic, and a
  restart replays only the batch after the HWM, so one integer is a
  complete ledger per stream). Commit is ``sinks/atomic.write_json`` —
  readers see old or new, never partial.
- Each batch's table writes go to a per-(checkpoint, batch) SEGMENT
  directory (``<table>/seg-<ckpt_key>-b<n>``), published whole by
  ``sinks/atomic.publish_dir`` (hidden staging dir, then one rename). A
  replay first clears its own uncommitted segments, so it republishes
  byte-identical rows: no duplicate rows, no lost rows. The ledger
  commit is the LAST step of a batch.
- Readers list the table root with ``recursiveFileLookup`` so segment
  subdirectories and compacted top-level files coexist in one layout
  (partition-discovery conflicts — ADVICE r8 medium — cannot arise
  because no directory level is a partition column).

Crash matrix (single active writer per index, the documented contract):
  crash mid-segment-write  -> only a hidden staging dir exists; replay
                              republishes the segment
  crash before commit      -> replay clears and republishes, commits
  replay after commit      -> HWM check skips, no-op
An ABANDONED checkpoint (crashed mid-batch, never restarted) can leave
an uncommitted segment behind; it is invisible to the ledger and is
swept by ``drop_uncommitted_segments`` during compaction, which both
index compactors run first.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil

from ..sinks import atomic

LEDGER_DIR = "_ledger"
_SEG_RE = re.compile(r"^seg-([0-9a-f]{12})-b(\d+)$")


def ckpt_key(checkpoint_dir: str) -> str:
    """Stable 12-hex identity of a stream = md5 of its (absolute)
    checkpoint location — the one path Structured Streaming guarantees
    is unique per logical stream."""
    return hashlib.md5(
        os.path.abspath(checkpoint_dir).encode("utf-8")
    ).hexdigest()[:12]


def _hwm_path(index_dir: str, key: str) -> str:
    return os.path.join(index_dir, LEDGER_DIR, key)


def committed(index_dir: str, key: str, batch_id: int) -> bool:
    """True iff THIS stream already committed ``batch_id``."""
    try:
        with open(_hwm_path(index_dir, key)) as f:
            return batch_id <= int(f.read().strip())
    except (OSError, ValueError):
        return False


def commit(index_dir: str, key: str, batch_id: int) -> None:
    """Advance the stream's high-water mark to ``batch_id`` (atomic)."""
    os.makedirs(os.path.join(index_dir, LEDGER_DIR), exist_ok=True)
    atomic.write_json(_hwm_path(index_dir, key), batch_id)


def segment(table_path: str, key: str, batch_id: int) -> str:
    """The (checkpoint, batch)-scoped directory a batch writes into."""
    return os.path.join(table_path, f"seg-{key}-b{batch_id}")


def clear_segments(table_paths: list[str], key: str, batch_id: int) -> None:
    """Remove this batch's partial segments from a crashed prior attempt
    BEFORE any read — a replayed batch must not see its own leftovers as
    corpus/index rows."""
    for p in table_paths:
        shutil.rmtree(segment(p, key, batch_id), ignore_errors=True)


def read_table(spark, table_path: str, schema: str):
    """Schema-pinned read of a table root that may hold both compacted
    top-level files and per-batch segment subdirectories."""
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(table_path)
    )


def read_committed(spark, index_dir: str, table_path: str, schema: str,
                   hwms: dict[str, int] | None = None):
    """Read only LEDGER-COMMITTED content of a table root: top-level data
    files (compaction/retrain rewrites) plus segment dirs whose batch id
    is within their stream's committed high-water mark.

    ``hwms``: pass a pre-taken ``_hwms`` snapshot to pin EXACTLY which
    commits this read sees — maintenance takes the snapshot once, reads
    with it, and after winning its generation CAS copies forward any
    segment committed PAST the snapshot (``ann_index._fold_missed_
    commits``); sharing the snapshot is what makes "in the fold" and
    "to be copied" a partition instead of a race.

    This is the non-destructive counterpart of
    ``drop_uncommitted_segments``: a maintenance reader (retrain /
    compaction building a new index generation) uses it so it can run
    CONCURRENTLY with an active drain — the mid-flight batch's
    uncommitted segment is simply not seen, and the epoch CAS
    (ann_index._epoch_txn) then arbitrates which side's commit lands
    first; the loser redoes its work against the fresh state. Nothing is
    deleted, so a drain that commits after this read keeps its segment
    either way."""
    if hwms is None:
        hwms = _hwms(index_dir)
    paths: list[str] = []
    if os.path.isdir(table_path):
        for name in sorted(os.listdir(table_path)):
            if name.startswith((".", "_")):
                continue
            full = os.path.join(table_path, name)
            m = _SEG_RE.match(name)
            if m:
                if int(m.group(2)) <= hwms.get(m.group(1), -1):
                    paths.append(full)
            elif os.path.isfile(full):
                paths.append(full)
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def _hwms(index_dir: str) -> dict[str, int]:
    ledger = os.path.join(index_dir, LEDGER_DIR)
    out: dict[str, int] = {}
    if not os.path.isdir(ledger):
        return out
    for name in os.listdir(ledger):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(ledger, name)) as f:
                out[name] = int(f.read().strip())
        except (OSError, ValueError):
            continue
    return out


def drop_uncommitted_segments(index_dir: str, table_paths: list[str]) -> int:
    """Maintenance sweep (run at the top of every compaction, which is
    by contract never concurrent with an active drain): delete segment
    dirs whose batch id exceeds their stream's committed high-water mark
    — the debris of an abandoned mid-batch crash. Returns dirs dropped."""
    hwms = _hwms(index_dir)
    dropped = 0
    for table in table_paths:
        if not os.path.isdir(table):
            continue
        for name in os.listdir(table):
            m = _SEG_RE.match(name)
            if m and int(m.group(2)) > hwms.get(m.group(1), -1):
                shutil.rmtree(os.path.join(table, name), ignore_errors=True)
                dropped += 1
    return dropped
