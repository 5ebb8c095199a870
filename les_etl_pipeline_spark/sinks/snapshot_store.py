"""Versioned snapshot store: write-audit-publish over plain parquet.

The reference lands bronze/silver as Delta tables and leans on Delta's
transaction log for atomic replace and time travel
(generate_bronze_tables.py:81-86, les_main.py:28-39 in the reference).
``delta-spark`` is not installable in this container (COVERAGE.md §2.9),
so this module supplies the part of that contract a 100 TB pipeline
actually depends on, using nothing beyond parquet and one commit point:

- **Write**: each publish writes a brand-new immutable staging dir
  (``.tx-<nonce>/``) — never in place, so readers of the current version
  are untouched.
- **Audit**: the caller's validation hook runs against the landed files
  BEFORE anything becomes visible; a failed audit leaves the store
  exactly as it was (the rejected staging dir is deleted on the spot; if
  the process dies mid-publish the dot-prefixed leftover is invisible to
  readers and swept by ``vacuum`` once it ages past the grace window).
- **Publish / arbitration**: the commit point is one atomic
  ``os.rename(staging, v=<n>)``. Rename onto an existing non-empty
  directory fails on POSIX, so two concurrent writers racing for the
  same slot serialize: exactly one claims ``v=<n>``. The loser retries
  the next slot (blind write) or surfaces ``ConcurrentWriteError``
  (optimistic read-modify-write via ``expected_version`` — Delta's
  commit-by-creating-the-next-log-file protocol). No lost updates:
  claimed slots are never overwritten. Rename is copy+delete on object
  stores, so this commit point holds on POSIX/HDFS only (SCALE.md).
- **Current version** = the highest version in the validity chain
  (``_committed_chain``), the store's one source of truth, so it can
  never move backwards even under racing publishers.
- **Time travel**: old snapshot dirs stay until ``vacuum``; ``read``
  takes an explicit version.

``publish_dir`` exposes the same write-audit-claim cycle for MULTI-table
content (a builder callback materializes arbitrary files into the
staging dir): the streaming ANN index uses it to retrain-and-swap its
quantizer + reassigned postings as one atomic unit.

**Partition-level conflict granularity** (round 13; closes COVERAGE.md
divergence 0): ``publish_partitions`` replaces only the hive partition
dirs its DataFrame actually touches. Because every version here is a
FULL snapshot (not a Delta log of deltas), a partition publish composes
its version dir at claim time: hardlinks of the current version's
untouched partition dirs + the freshly staged touched dirs — so two
DISJOINT writers based on the same read version both commit (the later
one mechanically recomposes over the earlier's result; its Spark write
runs once), while OVERLAPPING writers — or a partition writer racing a
whole-table publish — get ``ConcurrentWriteError``, mirroring Delta's
logical-conflict detection.

Race-airtightness — conditional commits: compose-from-current and
claim-next-slot are two steps, so a commit could sneak between them
and be silently dropped from the composed snapshot. Every CAS'd claim
therefore records ``depends_on`` (the version it composed over /
CAS'd against) in its commit metadata, and commit VALIDITY is a pure
function of the immutable claim history: walking claimed slots
ascending, an unconditional claim (blind whole-table publish) always
commits, a conditional claim commits iff its ``depends_on`` equals the
highest valid commit below it. A stale composition therefore
self-invalidates — every reader deterministically skips it — and the
writer detects its own invalid claim post-win and retries (partition
publish: recompose, cheap links) or raises (whole-table CAS). Invalid
claims are inert debris swept by ``vacuum``.
"""

from __future__ import annotations

import errno
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .atomic import remove_dir, write_json

COMMITTED = "_COMMITTED"
#: per-version commit metadata inside the version dir: {"depends_on":
#: int|-1|absent, "touched": [dir..]|None, "partition_by": str|None}.
#: Absent file / absent keys = unconditional whole-table commit.
TX_META = "_TX_META"
#: pass as ``expected_version`` to CAS-assert the store has never
#: published (the first-commit race: exactly one of N concurrent
#: initializers wins)
EXPECT_EMPTY = -1
#: recompose rounds a partition publish makes before giving up on a
#: pathologically contended table
_RECOMPOSE_ATTEMPTS = 50

#: the characters Spark's hive layout escapes in partition DIR names
#: (ExternalCatalogUtils.escapePathName — Hive's FileUtils list):
#: ASCII control chars plus this printable set. Verified empirically
#: against Spark 4's partitionBy writes in tests/test_snapshot_partitions.
_HIVE_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(1, 32)}


def escape_partition_value(value: str) -> str:
    """Encode a raw partition VALUE exactly as Spark's hive layout names
    the partition dir segment (``%XX`` uppercase for each escaped char).
    ``publish_partitions`` applies this to declared ``touched_partitions``
    values so a declared DELETE of e.g. ``a/b`` targets the ``a%2Fb``
    dir Spark actually wrote (ADVICE r13: raw formatting silently
    no-op'd such deletes — the escaped base dir was carried forward
    while the meta recorded the unescaped name as touched)."""
    return "".join(
        f"%{ord(c):02X}" if c in _HIVE_ESCAPE_CHARS else c for c in str(value)
    )


class ConcurrentWriteError(RuntimeError):
    """Another writer committed first. For read-modify-write publishes
    (``expected_version=...``) the caller must re-read the new current
    version, re-derive its output, and retry — the classic optimistic-
    concurrency loop."""


class SnapshotStore:
    """Atomic versioned parquet table (write-audit-publish) with
    optimistic multi-writer arbitration; the commit point is the rename
    of a staging dir onto its version slot."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- version bookkeeping -------------------------------------------------
    def _versions_on_disk(self, committed_only: bool = False) -> list[int]:
        out = []
        for name in os.listdir(self.root):
            if name.startswith("v="):
                try:
                    v = int(name[2:])
                except ValueError:
                    continue
                if committed_only and not os.path.exists(
                    os.path.join(self.root, name, COMMITTED)
                ):
                    continue
                out.append(v)
        return sorted(out)

    def _claim_meta(self, version: int) -> dict | None:
        """Commit metadata of a claimed slot (its ``_TX_META``). None =
        unconditional whole-table commit."""
        try:
            with open(os.path.join(self.root, f"v={version}", TX_META)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _committed_chain(self) -> list[int]:
        """The VALID committed versions, ascending — the store's source
        of truth. Candidacy (the claimed dir carries ``_COMMITTED``) is
        fixed at claim time; validity is then a pure function of the
        immutable claim history, so every reader computes the same chain
        forever:

        - unconditional claims (blind whole-table publish) always commit;
        - conditional claims (``depends_on`` = the version the writer
          composed over or CAS'd against; -1 = expected-empty) commit
          iff ``depends_on`` equals the highest valid commit below the
          slot. A claim composed against a stale base — the compose/
          claim race — is thereby inert: deterministically skipped by
          everyone, including its own writer's post-win check.

        Vacuum compaction: vacuum removes claims only below a chain
        version it keeps, each in one atomic step and in the order of
        ``_drop_below``, so the lowest surviving claim is always a chain
        member; when it is conditional its ``depends_on`` points below
        every surviving claim, and it seeds the chain."""
        claims = self._versions_on_disk()
        floor = claims[0] if claims else 0
        chain: list[int] = []
        cur = -1
        for v in self._versions_on_disk(committed_only=True):
            dep = (self._claim_meta(v) or {}).get("depends_on")
            if dep is None or dep == cur or (cur == -1 and -1 != dep < floor):
                chain.append(v)
                cur = v
        return chain

    def current_version(self) -> int | None:
        """Highest valid committed version (see ``_committed_chain``).
        Monotone under racing writers, because claims are immutable, and
        under a running or crashed vacuum, because vacuum never removes
        a claim in a way that changes the chain above what it keeps."""
        chain = self._committed_chain()
        return chain[-1] if chain else None

    # -- commit protocol -----------------------------------------------------
    def _staging_dir(self) -> str:
        return os.path.join(self.root, f".tx-{uuid.uuid4().hex[:12]}")

    def _next_slot(self) -> int:
        # the next slot skips EVERY slot on disk: committed dirs,
        # invalidated claims and uncommitted orphans alike
        return max(self._versions_on_disk(), default=-1) + 1

    def _claim(self, staging: str, expected_version: int | None) -> int:
        """Atomically promote ``staging`` to the next version slot (see
        module docstring). With ``expected_version`` set, losing the
        race (or discovering the table moved since the caller's read)
        raises ``ConcurrentWriteError`` instead of silently publishing
        over a state the caller never saw."""
        while True:
            cur = self.current_version()
            # expected_version semantics: None = blind write (no CAS);
            # -1 (EXPECT_EMPTY) = assert no version has ever been
            # published (first-commit CAS); >= 0 = classic optimistic CAS
            if expected_version is not None and cur != (
                None if expected_version < 0 else expected_version
            ):
                shutil.rmtree(staging, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"table moved: expected v={expected_version}, found "
                    f"v={cur} — re-read and retry"
                )
            nxt = self._next_slot()
            if not self._claim_rename(staging, nxt):
                if expected_version is not None:
                    shutil.rmtree(staging, ignore_errors=True)
                    raise ConcurrentWriteError(
                        f"lost the race for v={nxt} — re-read and retry"
                    ) from None
                continue  # blind write: another writer took the slot; next
            if expected_version is not None and nxt not in self._committed_chain():
                # compose/claim race: a commit landed between reading
                # `cur` and winning `nxt`, so our conditional claim
                # (depends_on=expected) self-invalidated — it is inert
                # debris every reader skips deterministically (see
                # _committed_chain); vacuum sweeps it.
                raise ConcurrentWriteError(
                    f"v={nxt} invalidated: the table moved past "
                    f"v={expected_version} while committing — re-read and retry"
                )
            return nxt

    def _claim_rename(self, staging: str, nxt: int) -> bool:
        """The commit point: rename staging onto the slot dir. Returns
        False only on a genuine lost race (slot already occupied); any
        other failure — staging swept, permissions, cross-device — is
        re-raised rather than looping forever."""
        try:
            os.rename(staging, os.path.join(self.root, f"v={nxt}"))
            return True
        except OSError as e:
            if e.errno in (errno.EEXIST, errno.ENOTEMPTY) and os.path.isdir(staging):
                return False  # slot taken by another writer; staging intact
            raise

    # -- write / audit / publish ----------------------------------------------
    @staticmethod
    def _seal(
        staging: str,
        expected_version: int | None,
        touched: list[str] | None = None,
        partition_by: str | None = None,
        read_version: int | None = None,
    ) -> None:
        """Write the commit metadata and the ``_COMMITTED`` stamp into a
        staging dir that is ready to claim."""
        meta: dict = {"touched": touched, "partition_by": partition_by}
        if expected_version is not None:
            meta["depends_on"] = max(expected_version, EXPECT_EMPTY)
        if read_version is not None:
            meta["read_version"] = read_version
        # durable write (ADVICE r13): the v=<n> dir rename can survive a
        # power loss that drops an unsynced _TX_META body, and
        # _claim_meta would then read the conditional partition claim as
        # an UNCONDITIONAL whole-table commit — fail-unsafe.
        # atomic.write_json (mkstemp + fsync + replace) makes the meta
        # either fully present or absent-with-the-dir-absent.
        write_json(os.path.join(staging, TX_META), meta)
        with open(os.path.join(staging, COMMITTED), "w") as f:
            f.write("1")

    def publish(
        self,
        df: DataFrame,
        audit: Callable[[DataFrame], bool] | None = None,
        partition_by: str | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Write df as the next snapshot, audit it, claim the version.

        Returns the published version. Raises ValueError (store
        untouched) if the audit rejects the landed data — the audit runs
        on the FILES AS WRITTEN, not the in-memory plan, so it catches
        write-path corruption too. With ``expected_version``, raises
        ``ConcurrentWriteError`` if any other writer committed since the
        caller read that version (optimistic concurrency; the caller
        re-reads and retries)."""
        staging = self._staging_dir()
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(staging)
        landed = self.spark.read.parquet(staging)
        if audit is not None and not audit(landed):
            shutil.rmtree(staging, ignore_errors=True)
            raise ValueError(
                f"audit rejected snapshot; current stays at v={self.current_version()}"
            )
        self._seal(staging, expected_version)
        return self._claim(staging, expected_version)

    def publish_dir(
        self,
        build: Callable[[str], None],
        audit: Callable[[str], bool] | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Multi-table publish: ``build(staging_path)`` materializes
        arbitrary content (several parquet tables, manifests, ...) into
        the staging dir; the whole directory is then audited and claimed
        as ONE atomic version — the primitive behind the ANN index's
        retrain-and-swap."""
        staging = self._staging_dir()
        os.makedirs(staging, exist_ok=True)
        try:
            build(staging)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        if audit is not None and not audit(staging):
            shutil.rmtree(staging, ignore_errors=True)
            raise ValueError(
                f"audit rejected snapshot; current stays at v={self.current_version()}"
            )
        self._seal(staging, expected_version)
        return self._claim(staging, expected_version)

    # -- partition-scoped publish (round 13) -----------------------------------
    @staticmethod
    def _link_tree(src: str, dst: str) -> None:
        """Recursive hardlink copy (parquet files are immutable, so a
        link IS a snapshot); falls back to a real copy cross-device. It
        is layout, never the commit point."""
        if os.path.isfile(src):
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)
            return
        os.makedirs(dst, exist_ok=True)
        for name in os.listdir(src):
            SnapshotStore._link_tree(
                os.path.join(src, name), os.path.join(dst, name)
            )

    def _check_partition_conflicts(
        self,
        read_version: int,
        chain: list[int],
        touched: list[str],
        partition_by: str,
    ) -> None:
        """Delta-style logical conflict detection: every valid commit
        after ``read_version`` must be a partition publish on the same
        partition column touching a DISJOINT set of partition dirs;
        anything else (overlap, whole-table publish, different layout,
        unreadable metadata) conflicts."""
        mine = set(touched)
        for v in chain:
            if v <= read_version:
                continue
            meta = self._claim_meta(v) or {}
            theirs = meta.get("touched")
            if theirs is None:
                raise ConcurrentWriteError(
                    f"whole-table publish at v={v} since read_version="
                    f"{read_version} — re-read and retry"
                )
            if meta.get("partition_by") != partition_by:
                raise ConcurrentWriteError(
                    f"v={v} partitioned by {meta.get('partition_by')!r}, "
                    f"not {partition_by!r} — layouts conflict"
                )
            overlap = mine & set(theirs)
            if overlap:
                raise ConcurrentWriteError(
                    f"v={v} touched overlapping partition(s) "
                    f"{sorted(overlap)} since read_version={read_version} "
                    "— re-read, re-derive, retry"
                )

    def _compose(
        self,
        staged: str,
        touched: list[str],
        base_version: int | None,
        expected_version: int,
        partition_by: str,
        read_version: int,
    ) -> str:
        """Materialize a full-snapshot staging dir: the base version's
        partition dirs minus ``touched`` (hardlinked — metadata cost
        only), plus the staged touched dirs. Pure layout; re-runnable
        per retry without touching Spark."""
        merged = self._staging_dir()
        os.makedirs(merged)
        skip = set(touched) | {COMMITTED, TX_META, "_SUCCESS"}
        if base_version is not None:
            base = self.version_path(base_version)
            for name in os.listdir(base):
                if name in skip or name.startswith("."):
                    continue
                self._link_tree(
                    os.path.join(base, name), os.path.join(merged, name)
                )
        for name in touched:
            src = os.path.join(staged, name)
            if os.path.isdir(src):  # absent staged dir = partition deleted
                self._link_tree(src, os.path.join(merged, name))
        self._seal(
            merged,
            expected_version,
            touched=sorted(touched),
            partition_by=partition_by,
            read_version=read_version,
        )
        return merged

    def publish_partitions(
        self,
        df: DataFrame,
        partition_by: str,
        read_version: int | None,
        audit: Callable[[DataFrame], bool] | None = None,
        touched_partitions: list[str] | None = None,
    ) -> int:
        """Publish ``df`` as a replacement of ONLY the hive partitions
        it touches, with partition-level conflict detection (Delta's
        logical-conflict model on this store's CAS; closes COVERAGE.md
        divergence 0).

        ``read_version`` is the version the caller derived ``df`` from
        (None/EXPECT_EMPTY = an empty store). Commits landed since then
        are examined: disjoint same-column partition publishes compose
        (this writer mechanically re-links over them and still commits
        — its Spark write runs exactly once); an overlapping publish, a
        whole-table publish, or a different partition column raises
        ``ConcurrentWriteError`` and the caller must re-read/re-derive.

        ``touched_partitions`` (encoded partition VALUES, e.g.
        ``["2024-01-01"]``) overrides the declared set — list a value
        with no rows in ``df`` to DELETE that partition; by default the
        touched set is read from the staged dirs, so declared == actual
        by construction. The audit hook sees the staged touched
        partitions as written.

        Commit safety: the composed snapshot records
        ``depends_on = <composition base>``; if any commit sneaks
        between composing and claiming, this claim self-invalidates
        (see ``_committed_chain``) and the writer recomposes — so the
        published chain never loses a disjoint concurrent update."""
        staged = self._staging_dir()
        df.write.mode("overwrite").partitionBy(partition_by).parquet(staged)
        prefix = f"{partition_by}="
        if touched_partitions is None:
            touched = sorted(
                n for n in os.listdir(staged) if n.startswith(prefix)
            )
        else:
            # declared values are RAW; Spark hive-escapes special chars
            # in the dir names it writes, so escape identically or a
            # declared DELETE of such a value silently no-ops (ADVICE
            # r13). A declared dir matching neither the staged write nor
            # the base version fails loudly below, inside the loop where
            # the composition base is known.
            touched = sorted(
                f"{prefix}{escape_partition_value(v)}" for v in touched_partitions
            )
            staged_dirs = {n for n in os.listdir(staged) if n.startswith(prefix)}
            extra = staged_dirs - set(touched)
            if extra:
                shutil.rmtree(staged, ignore_errors=True)
                raise ValueError(
                    f"df wrote partitions {sorted(extra)} not declared in "
                    "touched_partitions — declared must be a superset"
                )
        if not touched:
            shutil.rmtree(staged, ignore_errors=True)
            raise ValueError(
                "publish_partitions with an empty df and no "
                "touched_partitions would be a no-op publish"
            )
        if audit is not None and not audit(self.spark.read.parquet(staged)):
            shutil.rmtree(staged, ignore_errors=True)
            raise ValueError(
                f"audit rejected snapshot; current stays at v={self.current_version()}"
            )
        rv = EXPECT_EMPTY if read_version is None else read_version
        try:
            for _ in range(_RECOMPOSE_ATTEMPTS):
                chain = self._committed_chain()
                cur = chain[-1] if chain else None
                if rv != EXPECT_EMPTY and rv not in chain:
                    raise ConcurrentWriteError(
                        f"read_version v={rv} is not a committed version "
                        "(vacuumed or never published) — re-read"
                    )
                self._check_partition_conflicts(rv, chain, touched, partition_by)
                if touched_partitions is not None:
                    # fail-loud backstop for declared names (ADVICE r13):
                    # a declared dir in neither the staged write nor the
                    # composition base is a typo or an already-absent
                    # delete — never a silent no-op carry-forward.
                    base = None if cur is None else self.version_path(cur)
                    ghosts = [
                        t
                        for t in touched
                        if t not in staged_dirs
                        and (base is None or not os.path.isdir(os.path.join(base, t)))
                    ]
                    if ghosts:
                        raise ValueError(
                            f"declared touched partitions {ghosts} match no "
                            "staged dir and no dir in the composition base "
                            f"(v={cur}) — nothing to replace or delete"
                        )
                expected = cur if cur is not None else EXPECT_EMPTY
                merged = self._compose(
                    staged, touched, cur, expected, partition_by, rv
                )
                nxt = self._next_slot()
                if not self._claim_rename(merged, nxt):
                    shutil.rmtree(merged, ignore_errors=True)
                elif nxt in self._committed_chain():
                    return nxt
                # lost the slot, or won it but self-invalidated in the
                # compose/claim race (inert debris, vacuum sweeps it):
                # recompose over the commit that beat us and retry
            raise ConcurrentWriteError(
                f"gave up after {_RECOMPOSE_ATTEMPTS} recompose attempts — "
                "pathological writer contention"
            )
        finally:
            shutil.rmtree(staged, ignore_errors=True)

    # -- read / history ----------------------------------------------------
    def version_path(self, version: int | None = None) -> str:
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(
                f"snapshot store {self.root} has no published version"
            )
        path = os.path.join(self.root, f"v={v}")
        if not os.path.isdir(path):
            raise FileNotFoundError(
                f"snapshot store {self.root} v={v}: no such version "
                "(vacuumed, or never published)"
            )
        return path

    def read(self, version: int | None = None) -> DataFrame:
        return self.spark.read.parquet(self.version_path(version))

    @staticmethod
    def _tree_mtime(path: str) -> float:
        """Newest mtime anywhere under ``path`` (inclusive) — the
        liveness signal for the staging-sweep grace. Raises OSError only
        if the root itself is gone; files vanishing mid-walk (the owner
        finishing its publish) are skipped."""
        newest = os.path.getmtime(path)
        for dirpath, dirnames, filenames in os.walk(path):
            for n in dirnames + filenames:
                try:
                    newest = max(
                        newest, os.path.getmtime(os.path.join(dirpath, n))
                    )
                except OSError:
                    continue
        return newest

    def _drop(self, version: int) -> None:
        """Remove one claimed slot in one atomic step, so no reader sees
        it half removed (``_COMMITTED`` gone while the slot still sets
        the chain's floor, or ``_TX_META`` gone so a conditional claim
        reads as unconditional). The trash is a staging name, so a crash
        mid-delete leaves debris that a later vacuum sweeps."""
        remove_dir(os.path.join(self.root, f"v={version}"), self._staging_dir())

    def _drop_below(self, keep_from: int) -> list[int]:
        """Drop every claim below ``keep_from``, a chain version: first
        the claims the chain skips, then the chain's own versions
        ascending. Every state a reader can see, or a crash can leave,
        then has a chain member as its lowest claim, so the chain from
        ``keep_from`` up never changes. Returns the dropped versions,
        ascending."""
        claimed = [v for v in self._versions_on_disk() if v < keep_from]
        chain = set(self._committed_chain())
        for v in sorted(claimed, key=lambda v: (v in chain, v)):
            self._drop(v)
        return claimed

    def vacuum(self, keep_last: int = 2, tx_grace_seconds: float = 3600.0) -> list[int]:
        """Keep the last ``keep_last`` versions of the validity chain
        (never fewer than the current one) and drop every claim below
        the oldest of them, valid or not (``_drop_below``), so the chain
        stays whole while vacuum runs and after it stops. Claims above
        it that the chain skips (compose/claim race losers) and
        dot-prefixed staging debris from crashed publishes go once they
        age past ``tx_grace_seconds``. Returns the dropped versions
        below the kept window.

        Staging sweep safety (the store supports CONCURRENT publishers):
        a ``.tx-*`` dir is removed only when the NEWEST mtime anywhere
        in its tree is older than ``tx_grace_seconds``. The tree-wide
        max matters (ADVICE r10 low): a directory's own mtime moves only
        when its direct children change, so a long parquet build
        mutating nested part files looks idle at the staging root —
        keying the grace off the whole tree keeps a slower-than-grace
        build's live staging from being swept mid-publish. Set the grace
        to 0 only when no publisher can be running."""
        now = time.time()
        for name in os.listdir(self.root):
            if not name.startswith(".tx-"):
                continue
            path = os.path.join(self.root, name)
            try:
                age = now - self._tree_mtime(path)
            except OSError:
                continue  # vanished under us (owner finished its publish)
            if age >= tx_grace_seconds:
                shutil.rmtree(path, ignore_errors=True)
        # list the claims BEFORE walking the chain: a claim that lands
        # after this listing is left alone, valid or not
        committed = self._versions_on_disk(committed_only=True)
        chain = self._committed_chain()
        if not chain:
            return []
        dropped = self._drop_below(chain[-max(keep_last, 1):][0])
        for v in set(committed) - set(chain) - set(dropped):
            try:
                age = now - os.path.getmtime(os.path.join(self.root, f"v={v}"))
            except OSError:
                continue
            if age >= tx_grace_seconds:
                self._drop(v)
        return dropped
