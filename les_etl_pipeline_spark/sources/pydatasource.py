"""Custom Python data sources (Spark 4 DataSource API).

The reference's ingestion surface is fixed (CSV dumps + XML deal files,
SURVEY.md §2.1); a Spark-native engine can instead EXTEND the source
registry. Three sources demonstrate the full API:

- ``synthdocs`` (reader): a deterministic synthetic document corpus
  generated executor-side, partition-parallel, at any requested scale —
  no bytes on disk. Scale probing ("does this dedup plan survive 100M
  docs?") needs corpus SHAPE, not stored data; a generating source
  makes the 100x test a config change instead of a 100x dataset copy.
  Every row is a pure function of doc_id, so two reads (any partition
  count) produce identical tables — the property the determinism test
  pins.
- ``jsonl_shards`` (writer): one .jsonl shard per task with a driver
  commit step that writes a manifest listing exactly the shards whose
  tasks reported success — the two-phase write-commit contract
  (executors stage, driver publishes; abandoned shards from failed or
  speculative tasks are not listed). Complements sources/jsonl_ingest
  (the read side).
- ``synthevents`` (stream reader): a bounded deterministic event stream
  through SimpleDataSourceStreamReader — micro-batch offsets are row
  counts and every batch is a pure function of its offset range, so
  recovery replay (readBetweenOffsets) is byte-identical: the
  deterministic-replay contract exactly-once sinks rely on.

All three register with ``spark.dataSource.register`` and are then ordinary
``spark.read.format(...)`` / ``df.write.format(...)`` citizens — the
extension point itself is the feature under test.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from collections.abc import Iterator

from pyspark.sql.datasource import (
    SimpleDataSourceStreamReader,
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from ..sinks.atomic import write_json

_VOCAB = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark data query plan shuffle broadcast filter agg dup "
    "doc text token chunk score clean split train eval model corpus"
).split()

_LANGS = ("en", "es", "de", "fr", "it")

SYNTH_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _rank_word(r: int) -> str:
    """Deterministic letters-only word for Zipf rank r (base-26)."""
    r -= 1
    out = []
    while True:
        out.append(chr(ord("a") + r % 26))
        r = r // 26 - 1
        if r < 0:
            break
    return "".join(reversed(out))


def _synth_row(doc_id: int, mean_words: int, vocab_mode: str = "closed") -> tuple:
    """One synthetic document, a pure function of doc_id (md5-driven so
    any engine/process reproduces it byte-for-byte).

    ``vocab_mode="closed"`` (default) draws uniformly from the fixed
    31-word vocabulary — matching the driver fixture's corpus shape.
    ``vocab_mode="open"`` draws a Zipf(s=1.5) RANK per word (inverse
    CDF r = ceil(u^-2), unbounded) and renders it as a deterministic
    base-26 word: the realized vocabulary then grows with corpus size
    (Heaps' law) and token df follows a Zipf curve — the regime real
    corpora live in, where stop-term heads have df ~ O(N) but the tail
    dominates the distinct-token count. Built for SCALING re-probes of
    the text/dedup operators (VERDICT r6 #2): the closed fixture's
    all-tokens-are-stopwords shape makes every all-pairs token join
    quadratic by construction and hides Heaps-law costs."""
    h = hashlib.md5(f"synthdoc:{doc_id}".encode()).digest()
    n_words = 5 + (int.from_bytes(h[:4], "big") % (2 * mean_words - 9))
    words = []
    x = int.from_bytes(h[4:12], "big")
    for i in range(n_words):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        if vocab_mode == "open":
            u = max(x / float(1 << 64), 1e-12)
            words.append(_rank_word(1 + int(u**-2.0)))
        else:
            words.append(_VOCAB[x % len(_VOCAB)])
    text = " ".join(words)
    return (
        doc_id,
        text,
        _LANGS[h[12] % len(_LANGS)],
        f"src{h[13] % 8}",
        len(text),
    )


class _SynthPartition(InputPartition):
    def __init__(self, lo: int, hi: int, mean_words: int, vocab_mode: str):
        self.lo, self.hi = lo, hi
        self.mean_words, self.vocab_mode = mean_words, vocab_mode


class _SynthReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_docs = int(options.get("n_docs", 1000))
        self.n_parts = int(options.get("n_partitions", 8))
        self.mean_words = int(options.get("mean_words", 40))
        self.vocab_mode = str(options.get("vocab_mode", "closed"))

    def partitions(self) -> list[InputPartition]:
        # even doc_id ranges; partition count is the read parallelism
        # knob exactly like file splits are for a file source
        step = max(1, (self.n_docs + self.n_parts - 1) // self.n_parts)
        return [
            _SynthPartition(
                lo, min(lo + step, self.n_docs), self.mean_words, self.vocab_mode
            )
            for lo in range(0, self.n_docs, step)
        ]

    def read(self, partition: _SynthPartition) -> Iterator[tuple]:
        for doc_id in range(partition.lo, partition.hi):
            yield _synth_row(doc_id, partition.mean_words, partition.vocab_mode)


class SynthDocsDataSource(DataSource):
    """spark.read.format("synthdocs").option("n_docs", N) — generated
    corpus, no storage."""

    @classmethod
    def name(cls) -> str:
        return "synthdocs"

    def schema(self) -> str:
        return SYNTH_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _SynthReader(self.options)


class _ShardCommit(WriterCommitMessage):
    def __init__(self, shard: str, n_rows: int):
        self.shard = shard
        self.n_rows = n_rows


class _JsonlShardWriter(DataSourceWriter):
    def __init__(self, options: dict, schema):
        self.path = options["path"]
        self.field_names = [f.name for f in schema.fields]

    def write(self, rows: Iterator) -> _ShardCommit:
        """Executor-side: stage one shard under a unique name (staging
        name includes a uuid so a retried/speculative task never
        collides with its twin)."""
        os.makedirs(self.path, exist_ok=True)
        shard = f"part-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(self.path, shard), "w") as f:
            for row in rows:
                f.write(json.dumps(dict(zip(self.field_names, row))) + "\n")
                n += 1
        return _ShardCommit(shard, n)

    def commit(self, messages: list[_ShardCommit]) -> None:
        """Driver-side publish: the manifest lists exactly the shards of
        successful tasks; readers that honor the manifest never see
        abandoned duplicates."""
        write_json(
            os.path.join(self.path, "_MANIFEST"),
            {
                "shards": sorted(m.shard for m in messages),
                "n_rows": sum(m.n_rows for m in messages),
            },
        )

    def abort(self, messages: list[_ShardCommit]) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.path, m.shard))
                except OSError:
                    pass


class JsonlShardsDataSource(DataSource):
    """df.write.format("jsonl_shards").option("path", dir) — staged
    shards published by a driver manifest."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_shards"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _JsonlShardWriter(self.options, schema)


def read_manifest_shards(spark, path: str):
    """Read back a jsonl_shards directory through its manifest — only
    published shards, never stragglers."""
    with open(os.path.join(path, "_MANIFEST")) as f:
        manifest = json.load(f)
    files = [os.path.join(path, s) for s in manifest["shards"]]
    return spark.read.json(files)


SYNTH_EVENT_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"

_EVENT_TYPES = ("view", "click", "purchase", "scroll")
_EPOCH0 = 1700000000  # fixed stream epoch: rows are pure offset functions


def _synth_event(i: int) -> tuple:
    import datetime

    h = hashlib.md5(f"synthevent:{i}".encode()).digest()
    return (
        i,
        datetime.datetime.utcfromtimestamp(_EPOCH0 + i * 7),
        int.from_bytes(h[:4], "big") % 500,
        _EVENT_TYPES[h[4] % len(_EVENT_TYPES)],
        (int.from_bytes(h[5:9], "big") % 10_000) / 100.0,
    )


class _SynthEventsStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch offsets are plain row counts; every batch is a pure
    function of its offset range, so failure replay
    (readBetweenOffsets) regenerates byte-identical rows — the
    deterministic-replay contract exactly-once sinks rely on."""

    def __init__(self, options: dict):
        self.rows_per_batch = int(options.get("rows_per_batch", 50))
        self.n_total = int(options.get("n_total", 200))

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def read(self, start: dict):
        lo = start["offset"]
        hi = min(lo + self.rows_per_batch, self.n_total)
        return iter([_synth_event(i) for i in range(lo, hi)]), {"offset": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([_synth_event(i) for i in range(start["offset"], end["offset"])])


class SynthEventsStreamDataSource(DataSource):
    """spark.readStream.format("synthevents") — a deterministic event
    stream generated in Python, micro-batch paced by rows_per_batch and
    bounded by n_total (an exhausted source returns empty increments, so
    trigger(availableNow=True) terminates — the replayable-fixture shape
    for streaming tests at any volume)."""

    @classmethod
    def name(cls) -> str:
        return "synthevents"

    def schema(self) -> str:
        return SYNTH_EVENT_SCHEMA

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _SynthEventsStreamReader(self.options)


def register_all(spark) -> None:
    spark.dataSource.register(SynthDocsDataSource)
    spark.dataSource.register(JsonlShardsDataSource)
    spark.dataSource.register(SynthEventsStreamDataSource)
