"""Versioned snapshot store: write-audit-publish over plain parquet.

The reference lands bronze/silver as Delta tables and leans on Delta's
transaction log for atomic replace and time travel
(generate_bronze_tables.py:81-86, les_main.py:28-39 in the reference).
``delta-spark`` is not installable in this container (COVERAGE.md §2.9),
so this module supplies the part of that contract a 100 TB pipeline
actually depends on, using nothing beyond parquet + two commit
protocols:

- **Write**: each publish writes a brand-new immutable staging dir
  (``.tx-<nonce>/``) — never in place, so readers of the current version
  are untouched (cloud object stores: same pattern, unique prefixes).
- **Audit**: the caller's validation hook runs against the landed files
  BEFORE anything becomes visible; a failed audit leaves the store
  exactly as it was (the rejected staging dir is deleted on the spot; if
  the process dies mid-publish the dot-prefixed leftover is invisible to
  readers and swept by ``vacuum`` once it ages past the grace window).
- **Publish / arbitration** — pluggable commit point
  (``protocol=``):

  * ``"rename"`` (default, POSIX filesystems): the commit point is one
    atomic ``os.rename(staging, v=<n>)``. Rename onto an existing
    non-empty directory fails on POSIX, so two concurrent writers racing
    for the same slot serialize: exactly one claims ``v=<n>``. This is
    the fast path on HDFS/POSIX but does NOT transfer to object stores,
    where rename is copy+delete and not atomic.
  * ``"marker"`` (object-store-safe): the commit point is an
    EXCLUSIVE-CREATE of a tiny ``commit-v=<n>`` marker file
    (``O_CREAT|O_EXCL`` — atomic on POSIX *and* on strongly-consistent
    object stores via if-none-match puts; the same primitive Delta's
    GCSLogStore builds on, reference ``les_main.py:37-39``). The data
    move from staging to ``v=<n>`` is demoted to LAYOUT: it happens
    after the claim, may be non-atomic (copy+delete is fine), and is
    self-healing — any reader or vacuum that finds a claimed marker
    whose data dir is missing finalizes the move from the surviving
    staging dir.

  Either way, the loser of a race retries the next slot (blind write)
  or surfaces ``ConcurrentWriteError`` (optimistic read-modify-write
  via ``expected_version`` — Delta's commit-by-creating-the-next-log-
  file protocol). No lost updates: claimed slots are never overwritten.
- **Current version** = the highest committed version on disk (marker
  files and ``_COMMITTED``-stamped dirs), so it can never move backwards
  even under racing publishers; the ``_CURRENT`` pointer file is
  maintained as a monotone read hint and for stores written by older
  revisions of this module.
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
import tempfile
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .atomic import write_json

CURRENT = "_CURRENT"
COMMITTED = "_COMMITTED"
MARKER_PREFIX = "commit-v="
#: per-version commit metadata (inside the version dir and mirrored in
#: the marker body): {"depends_on": int|-1|absent, "touched": [dir..]|None,
#: "partition_by": str|None}. Absent file / absent keys = legacy
#: unconditional whole-table commit.
TX_META = "_TX_META"
#: pass as ``expected_version`` to CAS-assert the store has never
#: published (the first-commit race: exactly one of N concurrent
#: initializers wins)
EXPECT_EMPTY = -1

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
    optimistic multi-writer arbitration and a pluggable commit point
    (``protocol="rename"`` for POSIX, ``"marker"`` for object stores)."""

    def __init__(self, spark: SparkSession, root: str, protocol: str = "rename"):
        if protocol not in ("rename", "marker"):
            raise ValueError(f"unknown commit protocol {protocol!r}")
        self.spark = spark
        self.root = root
        self.protocol = protocol
        os.makedirs(root, exist_ok=True)

    # -- version bookkeeping -------------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.root, CURRENT)

    def _pointer_version(self) -> int | None:
        try:
            with open(self._pointer_path()) as f:
                return int(json.load(f)["version"])
        except (OSError, ValueError, KeyError):
            return None

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

    def _marker_versions(self) -> list[int]:
        """ALL marker-claimed slots by name, readable or not — the set
        that matters for slot allocation and vacuum (a claimed slot is
        never reused, even if its marker is torn legacy debris)."""
        out = []
        for name in os.listdir(self.root):
            if name.startswith(MARKER_PREFIX):
                try:
                    out.append(int(name[len(MARKER_PREFIX):]))
                except ValueError:
                    continue
        return sorted(out)

    def _committed_marker_versions(self) -> list[int]:
        """Marker slots that are genuinely COMMITTED: the marker body is
        readable (it names the staging dir) or the data dir already
        exists. A torn marker — legacy non-atomic claim crashed between
        exclusive-create and body write — claims its slot but commits
        nothing (ADVICE r10 low: counting it made current_version()
        point at permanently unreadable data, hiding older good
        versions). The current claim is link-atomic, so new markers can
        never be torn; this filter is for stores written by the older
        revision."""
        out = []
        for v in self._marker_versions():
            if os.path.isdir(os.path.join(self.root, f"v={v}")):
                out.append(v)
                continue
            try:
                with open(os.path.join(self.root, f"{MARKER_PREFIX}{v}")) as f:
                    json.load(f)["staging"]
                out.append(v)
            except (OSError, ValueError, KeyError):
                continue
        return out

    def _claim_meta(self, version: int) -> dict | None:
        """Commit metadata for a claimed slot: the marker body (carries
        it even before the data dir is finalized) or the version dir's
        ``_TX_META``. None = legacy claim = unconditional whole-table."""
        try:
            with open(os.path.join(self.root, f"{MARKER_PREFIX}{version}")) as f:
                body = json.load(f)
            if "depends_on" in body or "touched" in body:
                return body
        except (OSError, ValueError):
            pass
        try:
            with open(os.path.join(self.root, f"v={version}", TX_META)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _committed_chain(self) -> list[int]:
        """The VALID committed versions, ascending — the store's source
        of truth. Candidacy (the claim exists and is readable) is fixed
        at claim time; validity is then a pure function of the immutable
        claim history, so every reader computes the same chain forever:

        - unconditional claims (legacy / blind whole-table publish)
          always commit;
        - conditional claims (``depends_on`` = the version the writer
          composed over or CAS'd against; -1 = expected-empty) commit
          iff ``depends_on`` equals the highest valid commit below the
          slot. A claim composed against a stale base — the compose/
          claim race — is thereby inert: deterministically skipped by
          everyone, including its own writer's post-win check.

        Vacuum compaction: a surviving conditional claim whose
        ``depends_on`` points below the oldest surviving claim seeds the
        chain (it was valid when vacuum kept it)."""
        cands = sorted(
            set(self._versions_on_disk(committed_only=True))
            | set(self._committed_marker_versions())
        )
        all_claims = self._versions_on_disk() + self._marker_versions()
        floor = min(all_claims) if all_claims else 0
        chain: list[int] = []
        cur = -1
        for v in cands:
            meta = self._claim_meta(v)
            dep = meta.get("depends_on") if meta else None
            if dep is None:  # unconditional (blind or legacy)
                chain.append(v)
                cur = v
            elif dep == cur or (cur == -1 and -1 != dep < floor):
                chain.append(v)
                cur = v
        return chain

    def current_version(self) -> int | None:
        """Highest valid committed version (see ``_committed_chain``),
        or the pointer when it is higher (covers dirs published by
        older, pre-marker revisions of this module). Monotone under any
        writer race because claims are immutable."""
        cands = self._committed_chain()
        ptr = self._pointer_version()
        if ptr is not None:
            cands = cands + [ptr]
        return max(cands) if cands else None

    # -- commit protocol -----------------------------------------------------
    def _staging_dir(self) -> str:
        return os.path.join(self.root, f".tx-{uuid.uuid4().hex[:12]}")

    def _move(self, src: str, dst: str) -> None:
        """Layout move of a claimed staging dir into its version dir.
        ``os.rename`` where available; safe to substitute copy+delete on
        object stores — under the marker protocol this move is NOT the
        commit point, so atomicity is not required here."""
        os.rename(src, dst)

    def _next_slot(self, cur: int | None) -> int:
        # next slot skips EVERY slot on disk — committed dirs, marker
        # claims, and uncommitted orphans (legacy failed publishes must
        # not pin the retry loop on a permanently-occupied slot)
        taken = self._versions_on_disk() + self._marker_versions()
        return max([cur if cur is not None else -1] + taken) + 1

    def _claim(self, staging: str, expected_version: int | None) -> int:
        """Atomically promote ``staging`` to the next version slot via
        the configured commit point (see module docstring). With
        ``expected_version`` set, losing the race (or discovering the
        table moved since the caller's read) raises
        ``ConcurrentWriteError`` instead of silently publishing over a
        state the caller never saw."""
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
            nxt = self._next_slot(cur)
            if self.protocol == "marker":
                won = self._claim_marker(staging, nxt)
            else:
                won = self._claim_rename(staging, nxt)
            if not won:
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
            self._advance_pointer(nxt)
            return nxt

    def _claim_rename(self, staging: str, nxt: int) -> bool:
        """POSIX commit point: rename staging onto the slot dir. Returns
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

    def _claim_marker(self, staging: str, nxt: int) -> bool:
        """Object-store-safe commit point: exclusive-create of the
        ``commit-v=<nxt>`` marker (naming the staging dir) IS the
        commit; the data move to ``v=<nxt>`` is layout only and
        self-healing (``_finalize``).

        The claim is ATOMIC WITH ITS BODY (ADVICE r10 low): the JSON is
        written and fsynced to a dot-prefixed temp file first, then
        hard-linked to the marker name — link fails with EEXIST exactly
        like O_CREAT|O_EXCL, but the marker is complete the instant it
        exists, so no crash can leave a claimed-but-unreadable commit.
        (Object stores: the analogue is an if-none-match PUT, which also
        carries its body atomically.)"""
        if not os.path.isdir(staging):
            raise FileNotFoundError(
                f"staging dir {staging} vanished before commit (swept by a "
                "concurrent vacuum? raise vacuum's tx_grace_seconds)"
            )
        marker = os.path.join(self.root, f"{MARKER_PREFIX}{nxt}")
        body = {"staging": os.path.basename(staging)}
        try:
            # mirror the commit metadata into the marker body so the
            # validity walk and conflict checks never need the (possibly
            # not-yet-finalized) data dir
            with open(os.path.join(staging, TX_META)) as f:
                body.update(json.load(f))
        except (OSError, ValueError):
            pass
        fd, tmp = tempfile.mkstemp(prefix="._marker.", dir=self.root)
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(body, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, marker)
            except FileExistsError:
                return False
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass
        self._finalize(nxt)
        return True

    def _finalize(self, version: int) -> bool:
        """Ensure the data layout for a marker-claimed version exists:
        move the staging dir named in the marker into ``v=<version>``.
        Idempotent and crash-safe — callable by the committing writer,
        any later reader, or vacuum. Returns True when the data dir
        exists afterwards."""
        dst = os.path.join(self.root, f"v={version}")
        if os.path.isdir(dst):
            return True
        marker = os.path.join(self.root, f"{MARKER_PREFIX}{version}")
        try:
            with open(marker) as f:
                staging_name = json.load(f)["staging"]
        except (OSError, ValueError, KeyError):
            return False  # torn marker (crash inside the one write syscall)
        src = os.path.join(self.root, staging_name)
        if not os.path.isdir(src):
            return os.path.isdir(dst)  # another healer finished first
        try:
            self._move(src, dst)
        except OSError:
            # concurrent healer won the move, or dst appeared — re-check
            pass
        return os.path.isdir(dst)

    def _pending_staging_names(self) -> set[str]:
        """Staging dirs referenced by a claimed-but-unfinalized marker —
        these hold committed data and must NEVER be swept."""
        out = set()
        for v in self._marker_versions():
            if os.path.isdir(os.path.join(self.root, f"v={v}")):
                continue
            try:
                with open(os.path.join(self.root, f"{MARKER_PREFIX}{v}")) as f:
                    out.add(json.load(f)["staging"])
            except (OSError, ValueError, KeyError):
                continue
        return out

    def _advance_pointer(self, version: int) -> None:
        """Best-effort monotone hint; correctness never depends on it
        (current_version() maxes over committed slots)."""
        cur = self._pointer_version()
        if cur is not None and cur >= version:
            return
        write_json(
            self._pointer_path(), {"version": version, "published_at": time.time()}
        )

    # -- write / audit / publish ----------------------------------------------
    @staticmethod
    def _write_tx_meta(
        staging: str,
        expected_version: int | None,
        touched: list[str] | None = None,
        partition_by: str | None = None,
        read_version: int | None = None,
    ) -> None:
        meta: dict = {"touched": touched, "partition_by": partition_by}
        if expected_version is not None:
            meta["depends_on"] = max(expected_version, EXPECT_EMPTY)
        if read_version is not None:
            meta["read_version"] = read_version
        # durable write (ADVICE r13): under the rename protocol the
        # v=<n> dir rename can survive a power loss that drops an
        # unsynced _TX_META body, and _claim_meta would then read the
        # conditional partition claim as a legacy UNCONDITIONAL
        # whole-table commit — fail-unsafe. atomic.write_json (mkstemp +
        # fsync + replace) makes the meta either fully present or
        # absent-with-the-dir-absent.
        write_json(os.path.join(staging, TX_META), meta)

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
        self._write_tx_meta(staging, expected_version)
        with open(os.path.join(staging, COMMITTED), "w") as f:
            f.write("1")
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
        self._write_tx_meta(staging, expected_version)
        with open(os.path.join(staging, COMMITTED), "w") as f:
            f.write("1")
        return self._claim(staging, expected_version)

    # -- partition-scoped publish (round 13) -----------------------------------
    @staticmethod
    def _link_tree(src: str, dst: str) -> None:
        """Recursive hardlink copy (parquet files are immutable, so a
        link IS a snapshot); falls back to a real copy cross-device. On
        an object store this step becomes a server-side copy or a
        manifest entry — it is layout, never the commit point."""
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
        self._write_tx_meta(
            merged,
            expected_version,
            touched=sorted(touched),
            partition_by=partition_by,
            read_version=read_version,
        )
        with open(os.path.join(merged, COMMITTED), "w") as f:
            f.write("1")
        return merged

    def publish_partitions(
        self,
        df: DataFrame,
        partition_by: str,
        read_version: int | None,
        audit: Callable[[DataFrame], bool] | None = None,
        touched_partitions: list[str] | None = None,
        max_attempts: int = 50,
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
            for _ in range(max_attempts):
                chain = self._committed_chain()
                cur = max(chain) if chain else None
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
                nxt = self._next_slot(cur)
                if self.protocol == "marker":
                    won = self._claim_marker(merged, nxt)
                else:
                    won = self._claim_rename(merged, nxt)
                if won:
                    if nxt in self._committed_chain():
                        self._advance_pointer(nxt)
                        return nxt
                    # compose/claim race: our claim self-invalidated
                    # (inert debris, vacuum sweeps it) — recompose over
                    # the commit that beat us and retry
                else:
                    shutil.rmtree(merged, ignore_errors=True)
            raise ConcurrentWriteError(
                f"gave up after {max_attempts} recompose attempts — "
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
        if not os.path.isdir(path) and not self._finalize(v):
            raise FileNotFoundError(
                f"snapshot store {self.root} v={v}: no data dir and the "
                "commit marker's staging dir is gone (vacuumed old version, "
                "or torn commit)"
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

    def vacuum(self, keep_last: int = 2, tx_grace_seconds: float = 3600.0) -> list[int]:
        """Drop snapshot dirs older than the last ``keep_last`` published
        versions (never the current one), plus any dot-prefixed staging
        debris from crashed publishes. Returns dropped versions.

        Staging sweep safety (the store supports CONCURRENT publishers):
        a ``.tx-*`` dir is removed only when (a) it is not referenced by
        a claimed-but-unfinalized commit marker — that data is committed,
        so it is finalized into its version dir instead — and (b) the
        NEWEST mtime anywhere in its tree is older than
        ``tx_grace_seconds``. The tree-wide max matters (ADVICE r10
        low): a directory's own mtime moves only when its direct
        children change, so a long parquet build mutating nested part
        files looks idle at the staging root — keying the grace off the
        whole tree keeps a slower-than-grace build's live staging from
        being swept mid-publish. Set the grace to 0 only when no
        publisher can be running."""
        # heal first: committed-by-marker data must land before any sweep
        for v in self._marker_versions():
            self._finalize(v)
        pending = self._pending_staging_names()
        now = time.time()
        for name in os.listdir(self.root):
            if name.startswith(("._marker.", f".{CURRENT}.")):
                # tmp debris of a crashed atomic claim / pointer write
                path = os.path.join(self.root, name)
                try:
                    if now - os.path.getmtime(path) >= tx_grace_seconds:
                        os.remove(path)
                except OSError:
                    pass
                continue
            if not name.startswith(".tx-") or name in pending:
                continue
            path = os.path.join(self.root, name)
            try:
                age = now - self._tree_mtime(path)
            except OSError:
                continue  # vanished under us (owner finished its publish)
            if age >= tx_grace_seconds:
                shutil.rmtree(path, ignore_errors=True)
        cur = self.current_version()
        if cur is None:
            return []
        claimed = set(self._versions_on_disk()) | set(self._marker_versions())
        # self-invalidated conditional claims (candidates the validity
        # chain skips — compose/claim race losers) are inert debris at
        # ANY slot, including above cur: sweep them past the grace
        # window. The pointer version is never touched (legacy stores).
        chain = set(self._committed_chain())
        ptr = self._pointer_version()
        candidates = set(self._versions_on_disk(committed_only=True)) | set(
            self._committed_marker_versions()
        )
        for v in sorted(candidates - chain):
            if v == ptr:
                continue
            path = os.path.join(self.root, f"v={v}")
            marker = os.path.join(self.root, f"{MARKER_PREFIX}{v}")
            try:
                age = now - max(
                    os.path.getmtime(p) for p in (path, marker) if os.path.exists(p)
                )
            except (OSError, ValueError):
                continue
            if age >= tx_grace_seconds:
                shutil.rmtree(path, ignore_errors=True)
                try:
                    os.remove(marker)
                except OSError:
                    pass
                claimed.discard(v)
        keep = {v for v in claimed if v > cur} | set(
            range(max(0, cur - keep_last + 1), cur + 1)
        )
        dropped = []
        for v in sorted(claimed):
            if v not in keep:
                shutil.rmtree(os.path.join(self.root, f"v={v}"), ignore_errors=True)
                try:
                    os.remove(os.path.join(self.root, f"{MARKER_PREFIX}{v}"))
                except OSError:
                    pass
                dropped.append(v)
        return dropped
