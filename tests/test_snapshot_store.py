"""Write-audit-publish snapshot store: atomic rename claim, failed-audit
rollback, time travel, optimistic concurrency, vacuum."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from les_etl_pipeline_spark.sinks.snapshot_store import (
    EXPECT_EMPTY,
    SnapshotStore,
)


@pytest.fixture(params=["rename"])
def store(spark, tmp_path):
    """A fresh store; the ``[rename]`` id names its one commit point,
    the rename of a staging dir onto its version slot."""
    return SnapshotStore(spark, str(tmp_path / "tbl"))


def test_publish_read_roundtrip(spark, store):
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    v = store.publish(df)
    assert v == 0
    got = store.read()
    assert sorted(tuple(r) for r in got.collect()) == [(i, 2 * i) for i in range(10)]


def test_versions_advance_and_time_travel(spark, store):
    store.publish(spark.range(3))
    store.publish(spark.range(5))
    assert store.current_version() == 1
    assert store.read(0).count() == 3
    assert store.read().count() == 5


def test_failed_audit_leaves_store_untouched(spark, store):
    store.publish(spark.range(4))
    with pytest.raises(ValueError, match="audit rejected"):
        store.publish(spark.range(2), audit=lambda df: df.count() >= 4)
    # current still v0 with the old data
    assert store.current_version() == 0
    assert store.read().count() == 4
    # the rejected dir is deleted on the spot — no orphan accumulation
    assert not os.path.isdir(os.path.join(store.root, "v=1"))
    # next good publish lands cleanly and is readable
    v = store.publish(spark.range(7), audit=lambda df: df.count() == 7)
    assert v > 0 and store.read().count() == 7


def test_vacuum_keeps_current_and_recent(spark, store):
    for n in (2, 3, 4, 5):
        store.publish(spark.range(n))
    dropped = store.vacuum(keep_last=2)
    assert dropped == [0, 1]
    assert store.read().count() == 5
    assert store.read(2).count() == 4
    with pytest.raises(Exception):
        store.read(0).count()


def test_partitioned_snapshot(spark, store):
    df = spark.range(20).withColumn("part", (F.col("id") % 4).cast("string"))
    store.publish(df, partition_by="part")
    snap = os.path.join(store.root, "v=0")
    assert any(n.startswith("part=") for n in os.listdir(snap))
    assert store.read().count() == 20


def test_concurrent_blind_writers_no_lost_update(spark, store):
    """Two writers racing blind publishes (VERDICT r8 #2): the atomic
    version-dir claim must serialize them — every publish lands in its
    own version, both serialization orders are valid, nothing is lost,
    and current_version is the max committed slot."""
    import threading

    results, errors = [], []

    def writer(tag):
        try:
            for i in range(4):
                v = store.publish(
                    spark.createDataFrame([(tag, i)], "writer string, i int")
                )
                results.append((tag, i, v))
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    t1 = threading.Thread(target=writer, args=("a",))
    t2 = threading.Thread(target=writer, args=("b",))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors
    versions = [v for _, _, v in results]
    assert sorted(versions) == list(range(8))  # every slot claimed once
    assert store.current_version() == 7
    # no lost update: each writer's payload is readable at its version
    for tag, i, v in results:
        assert [tuple(r) for r in store.read(v).collect()] == [(tag, i)]
    # each writer's own versions are monotone (its publishes serialized)
    for tag in ("a", "b"):
        own = [v for t, _, v in sorted(r for r in results if r[0] == tag)]
        assert own == sorted(own)


def test_optimistic_read_modify_write_conflict(spark, store):
    """The Delta-style optimistic transaction: a writer that read v=N may
    only commit v=N+1; if the table moved in between it must get
    ConcurrentWriteError and re-derive from the fresh state — counter
    increments from two interleaved writers must both survive."""
    from les_etl_pipeline_spark.sinks.snapshot_store import ConcurrentWriteError

    store.publish(spark.createDataFrame([(0,)], "n int"))

    def increment():
        # read-modify-write with the classic CAS retry loop
        while True:
            base = store.current_version()
            n = store.read(base).collect()[0].n
            try:
                return store.publish(
                    spark.createDataFrame([(n + 1,)], "n int"),
                    expected_version=base,
                )
            except ConcurrentWriteError:
                continue

    # interleave manually: A reads v0, B commits first, A must conflict
    base_a = store.current_version()
    n_a = store.read(base_a).collect()[0].n
    increment()  # writer B lands n=1 at v1
    with pytest.raises(ConcurrentWriteError):
        store.publish(
            spark.createDataFrame([(n_a + 1,)], "n int"), expected_version=base_a
        )
    # A retries from fresh state and lands n=2: neither increment lost
    increment()
    assert store.read().collect()[0].n == 2
    assert store.current_version() == 2


def test_concurrent_increment_threads_both_apply(spark, store):
    """Thread race over the full CAS loop: 2 writers x 3 increments on a
    shared counter — the final value must be exactly 6 (optimistic
    retries absorb every conflict; no increment lost or doubled)."""
    import threading

    from les_etl_pipeline_spark.sinks.snapshot_store import ConcurrentWriteError

    store.publish(spark.createDataFrame([(0,)], "n int"))
    errors = []

    def worker():
        try:
            for _ in range(3):
                while True:
                    base = store.current_version()
                    n = store.read(base).collect()[0].n
                    try:
                        store.publish(
                            spark.createDataFrame([(n + 1,)], "n int"),
                            expected_version=base,
                        )
                        break
                    except ConcurrentWriteError:
                        continue
        except Exception as e:  # pragma: no cover
            errors.append(e)

    ts = [threading.Thread(target=worker) for _ in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errors
    assert store.read().collect()[0].n == 6


def test_vacuum_sweeps_staging_debris(spark, store, tmp_path):
    """Crashed publishes leave dot-prefixed staging dirs; they are
    invisible to readers and vacuum removes them — but ONLY once they
    age past the grace window, so an in-flight concurrent publish's
    live staging is never destroyed (ADVICE r9)."""
    import time as _time

    store.publish(spark.range(3))
    debris = os.path.join(store.root, ".tx-deadbeef0000")
    os.makedirs(debris)
    with open(os.path.join(debris, "part-junk.parquet"), "w") as f:
        f.write("junk")
    assert store.read().count() == 3  # invisible to reads
    store.vacuum()  # fresh dir: inside the grace window — must survive
    assert os.path.exists(debris)
    old = _time.time() - 7200
    # the grace keys off the WHOLE tree's newest mtime (r11): a crashed
    # publish's debris is only "aged" once every file in it has gone idle
    os.utime(os.path.join(debris, "part-junk.parquet"), (old, old))
    os.utime(debris, (old, old))
    store.vacuum()  # aged past the 1h default grace — swept
    assert not os.path.exists(debris)


def test_vacuum_never_sweeps_live_staging_of_inflight_publish(spark, store):
    """A racing publisher's staging dir (mid-build/audit) must survive a
    concurrent vacuum so its subsequent claim succeeds."""
    store.publish(spark.range(2))
    live = store._staging_dir()
    os.makedirs(live)
    spark.range(5).write.mode("overwrite").parquet(live)
    store.vacuum()  # default grace: live staging untouched
    with open(os.path.join(live, "_COMMITTED"), "w") as f:
        f.write("1")
    v = store._claim(live, expected_version=None)
    assert store.read(v).count() == 5


def test_claim_reraises_persistent_rename_failure(spark, tmp_path):
    """ADVICE r9 medium: a staging dir that is GONE (e.g. swept) must
    fail loudly, not spin the blind-write retry loop forever."""
    store = SnapshotStore(spark, str(tmp_path / "tbl"))
    store.publish(spark.range(1))
    with pytest.raises(OSError):
        store._claim(os.path.join(store.root, ".tx-gone000000"), None)


def test_vacuum_keeps_staging_of_long_running_build(spark, store):
    """ADVICE r10 low: a build that runs longer than the grace mutates
    NESTED part files without touching the staging root (a directory's
    mtime only tracks direct children). The sweep keys off the newest
    mtime in the WHOLE tree, so a live slow build survives; only a
    staging whose entire tree has gone idle past the grace is swept."""
    import time as _time

    store.publish(spark.range(2))
    staging = os.path.join(store.root, ".tx-longbuild00")
    nested = os.path.join(staging, "table", "part=0")
    os.makedirs(nested)
    with open(os.path.join(nested, "part-0.parquet"), "w") as f:
        f.write("x")
    old = _time.time() - 7200
    # root and intermediate dirs look idle; one nested file is FRESH
    os.utime(os.path.join(nested, "part-0.parquet"), (old, old))
    os.utime(os.path.join(staging, "table"), (old, old))
    os.utime(staging, (old, old))
    with open(os.path.join(nested, "part-1.parquet"), "w") as f:
        f.write("y")
    os.utime(nested, (old, old))
    store.vacuum()
    assert os.path.exists(staging)  # live build survives
    os.utime(os.path.join(nested, "part-1.parquet"), (old, old))
    store.vacuum()
    assert not os.path.exists(staging)  # fully idle past grace: swept


def _store_vacuumed_past_invalid_claim(spark, root):
    """v0-v4 by CAS; v5 a claim composed over v3 that lost the compose/
    claim race to v4 (so the validity chain skips it); v6 a valid CAS
    over v4 holding partitions a and c; then ``vacuum(keep_last=2)``."""
    store = SnapshotStore(spark, root)
    for ev in (EXPECT_EMPTY, 0, 1, 2, 3):
        store.publish_dir(lambda staging: None, expected_version=ev)
    stale = os.path.join(root, "v=5")
    os.makedirs(stale)
    with open(os.path.join(stale, "_TX_META"), "w") as f:
        json.dump({"touched": ["p=a"], "partition_by": "p",
                   "depends_on": 3, "read_version": 3}, f)
    with open(os.path.join(stale, "_COMMITTED"), "w") as f:
        f.write("1")
    df = spark.createDataFrame([("a", 1), ("c", 3)], "p string, x long")
    assert store.publish(df, partition_by="p", expected_version=4) == 6
    store.vacuum(keep_last=2)
    return store


def test_vacuum_past_invalidated_claim_keeps_cas_working(spark, tmp_path):
    """Vacuum drops every claim below the oldest chain version it keeps,
    so an invalid claim never becomes the lowest survivor and the chain
    still ends at the current version; CAS publishes keep committing."""
    store = _store_vacuumed_past_invalid_claim(spark, str(tmp_path / "tbl"))
    assert store.current_version() == max(store._committed_chain()) == 6
    assert store.publish_dir(lambda staging: None, expected_version=6) == 7
    assert store.current_version() == 7


def test_vacuum_past_invalidated_claim_keeps_partition_publish_working(
    spark, tmp_path
):
    """The dedup/gapfill pattern after the same vacuum: a partition
    publish at ``read_version=current_version()`` commits, composed over
    the current version's content."""
    store = _store_vacuumed_past_invalid_claim(spark, str(tmp_path / "tbl"))
    df = spark.createDataFrame([("b", 2)], "p string, x long")
    v = store.publish_partitions(df, "p", read_version=store.current_version())
    assert v == 7 and store.current_version() == 7
    got = {(r.p, r.x) for r in store.read().select("p", "x").collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}


@pytest.mark.parametrize("torn", [False, True], ids=["clean", "torn"])
@pytest.mark.parametrize("done", range(5))
def test_vacuum_interrupted_mid_drop_keeps_chain(tmp_path, monkeypatch, done, torn):
    """A vacuum that dies after ``done`` of its five drops — the
    interrupted delete having removed ``_COMMITTED`` first (``torn``) or
    nothing — leaves the chain whole: v0-v3, v5, v6 by CAS, with an
    invalid claim at v4 composed over v2 that the chain skips. The
    current version stays v6 and a CAS over v6 commits."""
    root = str(tmp_path / "tbl")
    store = SnapshotStore(None, root)
    for ev in (EXPECT_EMPTY, 0, 1, 2):
        store.publish_dir(lambda staging: None, expected_version=ev)
    stale = os.path.join(root, "v=4")
    os.makedirs(stale)
    with open(os.path.join(stale, "_TX_META"), "w") as f:
        json.dump({"touched": None, "partition_by": None, "depends_on": 2}, f)
    with open(os.path.join(stale, "_COMMITTED"), "w") as f:
        f.write("1")
    assert store.publish_dir(lambda staging: None, expected_version=3) == 5
    assert store.publish_dir(lambda staging: None, expected_version=5) == 6
    assert store._committed_chain() == [0, 1, 2, 3, 5, 6]

    real_rmtree = shutil.rmtree
    calls = []

    def dying_rmtree(path, ignore_errors=False):
        calls.append(path)
        if len(calls) <= done:
            return real_rmtree(path, ignore_errors=ignore_errors)
        if torn and os.path.exists(os.path.join(path, "_COMMITTED")):
            os.remove(os.path.join(path, "_COMMITTED"))
        raise OSError("vacuum killed mid-drop")

    monkeypatch.setattr(shutil, "rmtree", dying_rmtree)
    with pytest.raises(OSError, match="mid-drop"):
        store.vacuum(keep_last=2)
    monkeypatch.undo()
    assert store.current_version() == 6
    assert store._committed_chain()[-2:] == [5, 6]
    assert store.publish_dir(lambda staging: None, expected_version=6) == 7
    assert store.vacuum(keep_last=2, tx_grace_seconds=0)[-1] == 5
    assert store._committed_chain() == [6, 7]
    assert sorted(os.listdir(root)) == ["v=6", "v=7"]
