"""Partition-scoped publish with Delta-style logical conflict detection
(VERDICT r12 #4 / COVERAGE.md divergence 0): disjoint-partition writers
both commit without caller retry; overlapping writers (or a racing
whole-table publish) get ConcurrentWriteError; a commit sneaking between
compose and claim self-invalidates via the depends_on validity chain."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from les_etl_pipeline_spark.sinks.snapshot_store import (
    EXPECT_EMPTY,
    ConcurrentWriteError,
    SnapshotStore,
)


@pytest.fixture(params=["rename"])
def store(spark, tmp_path):
    """A fresh store; the ``[rename]`` id names its one commit point."""
    return SnapshotStore(spark, str(tmp_path / "tbl"))


def _seed(spark, store, parts=("a", "b", "c")):
    df = spark.createDataFrame(
        [(p, i) for p in parts for i in range(3)], "p string, x long"
    )
    return store.publish(df, partition_by="p")


def _part_df(spark, part, values):
    return spark.createDataFrame([(part, v) for v in values], "p string, x long")


def _table(store):
    return {
        (r.p, r.x) for r in store.read().select("p", "x").collect()
    }


def test_partition_publish_replaces_only_touched(spark, store):
    v0 = _seed(spark, store)
    v1 = store.publish_partitions(
        _part_df(spark, "b", [100, 200]), "p", read_version=v0
    )
    assert v1 == v0 + 1
    got = _table(store)
    assert got == (
        {("a", i) for i in range(3)}
        | {("b", 100), ("b", 200)}
        | {("c", i) for i in range(3)}
    )
    # time travel still sees the old b rows
    old = {(r.p, r.x) for r in store.read(v0).collect()}
    assert ("b", 0) in old and ("b", 100) not in old


def test_disjoint_writers_both_commit_without_caller_retry(spark, store):
    """Both derive from the same read version, touch different
    partitions: BOTH publishes succeed (the later one recomposes
    internally) and neither update is lost."""
    v0 = _seed(spark, store)
    va = store.publish_partitions(_part_df(spark, "a", [10]), "p", read_version=v0)
    vb = store.publish_partitions(_part_df(spark, "b", [20]), "p", read_version=v0)
    assert vb > va > v0
    got = _table(store)
    assert ("a", 10) in got and ("b", 20) in got
    assert {("c", i) for i in range(3)} <= got  # untouched carried forward
    assert ("a", 0) not in got and ("b", 0) not in got


def test_overlapping_writer_conflicts(spark, store):
    v0 = _seed(spark, store)
    store.publish_partitions(_part_df(spark, "b", [10]), "p", read_version=v0)
    with pytest.raises(ConcurrentWriteError, match="overlapping"):
        store.publish_partitions(_part_df(spark, "b", [99]), "p", read_version=v0)
    assert _table(store) == {
        ("a", 0), ("a", 1), ("a", 2),
        ("b", 10),
        ("c", 0), ("c", 1), ("c", 2),
    }


def test_whole_table_publish_since_read_conflicts(spark, store):
    v0 = _seed(spark, store)
    store.publish(_part_df(spark, "z", [1]), partition_by="p")  # full replace
    with pytest.raises(ConcurrentWriteError, match="whole-table"):
        store.publish_partitions(_part_df(spark, "a", [5]), "p", read_version=v0)


def test_partition_column_mismatch_conflicts(spark, store):
    v0 = _seed(spark, store)
    other = spark.createDataFrame([(1, "q")], "x long, q string")
    store.publish_partitions(other, "q", read_version=v0)
    with pytest.raises(ConcurrentWriteError, match="partitioned by"):
        store.publish_partitions(_part_df(spark, "a", [5]), "p", read_version=v0)


def test_explicit_touched_deletes_partition(spark, store):
    v0 = _seed(spark, store)
    empty = spark.createDataFrame([], "p string, x long")
    store.publish_partitions(
        empty, "p", read_version=v0, touched_partitions=["c"]
    )
    got = _table(store)
    assert not {t for t in got if t[0] == "c"}
    assert ("a", 0) in got and ("b", 0) in got


def test_undeclared_staged_partition_rejected(spark, store):
    v0 = _seed(spark, store)
    with pytest.raises(ValueError, match="not declared"):
        store.publish_partitions(
            _part_df(spark, "a", [1]), "p", read_version=v0,
            touched_partitions=["b"],
        )


def test_first_partition_publish_on_empty_store(spark, store):
    v = store.publish_partitions(
        _part_df(spark, "a", [1, 2]), "p", read_version=None
    )
    assert v == 0 and _table(store) == {("a", 1), ("a", 2)}
    # EXPECT_EMPTY read_version now stale: store is non-empty and the
    # second writer touches the same partition
    with pytest.raises(ConcurrentWriteError):
        store.publish_partitions(
            _part_df(spark, "a", [9]), "p", read_version=EXPECT_EMPTY
        )


def test_audit_rejection_leaves_store_untouched(spark, store):
    v0 = _seed(spark, store)
    with pytest.raises(ValueError, match="audit rejected"):
        store.publish_partitions(
            _part_df(spark, "a", [1]), "p", read_version=v0,
            audit=lambda df: df.count() > 10,
        )
    assert store.current_version() == v0
    assert not [n for n in os.listdir(store.root) if n.startswith(".tx-")]


def test_race_disjoint_threads_all_commit(spark, store):
    """N threads, disjoint partitions, same read version: every writer
    succeeds (internal recompose only — no ConcurrentWriteError, no
    caller-side re-derivation) and the final snapshot carries every
    update plus untouched data."""
    v0 = _seed(spark, store, parts=("a", "b", "c", "d", "keep"))
    parts = ["a", "b", "c", "d"]
    dfs = {p: _part_df(spark, p, [1000 + i]) for i, p in enumerate(parts)}
    errs: list[Exception] = []
    barrier = threading.Barrier(len(parts))

    def writer(p):
        barrier.wait()
        try:
            store.publish_partitions(dfs[p], "p", read_version=v0)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(p,)) for p in parts]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    got = _table(store)
    for i, p in enumerate(parts):
        assert (p, 1000 + i) in got, p
        assert (p, 0) not in got, p
    assert {("keep", i) for i in range(3)} <= got


def test_race_same_partition_exactly_one_wins(spark, store):
    v0 = _seed(spark, store)
    oks: list[int] = []
    errs: list[Exception] = []
    barrier = threading.Barrier(2)

    def writer(val):
        df = _part_df(spark, "b", [val])
        barrier.wait()
        try:
            oks.append(store.publish_partitions(df, "p", read_version=v0))
        except ConcurrentWriteError as e:
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(v,)) for v in (111, 222)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(oks) == 1 and len(errs) == 1
    b_rows = {t for t in _table(store) if t[0] == "b"}
    assert b_rows in ({("b", 111)}, {("b", 222)})


def test_invalidated_claim_is_skipped_and_vacuumed(spark, store):
    """Force the compose/claim race deterministically: hand-craft a
    conditional claim whose depends_on is stale. Readers must skip it
    (validity chain) and vacuum must sweep it."""
    v0 = _seed(spark, store)
    v1 = store.publish_partitions(_part_df(spark, "a", [7]), "p", read_version=v0)
    # forge a claim at v2 that pretends it composed over v0 (stale: v1
    # exists) — exactly what a racing writer's first attempt writes
    import json as _json

    forged = os.path.join(store.root, "v=2")
    os.makedirs(forged)
    with open(os.path.join(forged, "_TX_META"), "w") as f:
        _json.dump({"touched": ["p=b"], "partition_by": "p",
                    "depends_on": v0, "read_version": v0}, f)
    with open(os.path.join(forged, "_COMMITTED"), "w") as f:
        f.write("1")
    assert store.current_version() == v1  # invalid claim skipped
    # a later valid publish lands ABOVE the dead slot
    v3 = store.publish_partitions(_part_df(spark, "c", [8]), "p", read_version=v1)
    assert v3 > 2 and store.current_version() == v3
    store.vacuum(keep_last=10, tx_grace_seconds=0)
    assert not os.path.isdir(forged)  # invalid debris swept
    assert store.read(v1).count() > 0  # kept versions intact


def test_escaped_partition_value_delete_and_replace(spark, store):
    """ADVICE r13: declared touched values must be hive-escaped like the
    dirs Spark writes, or a DELETE of a special-char partition silently
    no-ops (the escaped base dir is carried forward)."""
    from les_etl_pipeline_spark.sinks.snapshot_store import (
        escape_partition_value,
    )

    v0 = _seed(spark, store, parts=("a/b", "a=b", "a b", "plain"))
    # the escape helper matches Spark's hive layout byte-for-byte
    dirs = {
        n for n in os.listdir(store.version_path(v0)) if n.startswith("p=")
    }
    assert dirs == {
        "p=" + escape_partition_value(v) for v in ("a/b", "a=b", "a b", "plain")
    }
    assert "p=a%2Fb" in dirs and "p=a%3Db" in dirs and "p=a b" in dirs
    # declared DELETE of the slash value actually removes it
    empty = spark.createDataFrame([], "p string, x long")
    v1 = store.publish_partitions(
        empty, "p", read_version=v0, touched_partitions=["a/b"]
    )
    got = _table(store)
    assert not {t for t in got if t[0] == "a/b"}
    assert ("a=b", 0) in got and ("a b", 0) in got and ("plain", 0) in got
    # declared REPLACE of the equals value composes with the staged dir
    v2 = store.publish_partitions(
        _part_df(spark, "a=b", [77]), "p", read_version=v1,
        touched_partitions=["a=b"],
    )
    got = _table(store)
    assert {t for t in got if t[0] == "a=b"} == {("a=b", 77)}
    assert store.current_version() == v2


def test_ghost_declared_partition_fails_loudly(spark, store):
    """A declared touched value matching neither the staged write nor
    the composition base raises instead of silently no-op'ing."""
    v0 = _seed(spark, store)
    empty = spark.createDataFrame([], "p string, x long")
    with pytest.raises(ValueError, match="nothing to replace or delete"):
        store.publish_partitions(
            empty, "p", read_version=v0, touched_partitions=["never-existed"]
        )
    assert store.current_version() == v0


def test_tx_meta_durable_write_leaves_no_debris(spark, store):
    """_TX_META lands via mkstemp+fsync+replace (ADVICE r13): the
    version dir holds exactly one valid-JSON meta and no temp files."""
    import json as _json

    v0 = _seed(spark, store)
    v1 = store.publish_partitions(
        _part_df(spark, "b", [5]), "p", read_version=v0
    )
    vd = store.version_path(v1)
    with open(os.path.join(vd, "_TX_META")) as f:
        meta = _json.load(f)
    assert meta["partition_by"] == "p" and meta["touched"] == ["p=b"]
    assert not [n for n in os.listdir(vd) if n.startswith("._TX_META.")]
