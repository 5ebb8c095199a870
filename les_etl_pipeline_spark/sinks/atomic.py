"""Atomic commits on a POSIX filesystem: the one place that decides how
a file or directory becomes visible. Every sink and streaming write that
can race or crash mid-write goes through one of these; the only other
renames in the package are ``SnapshotStore``'s version claim, the
rename of a staging dir onto its version slot.

- ``write_json``: small metadata files (ledger high-water marks,
  pointers, manifests). ``mkstemp`` in the target dir, ``fsync``, then
  ``os.replace``: readers see the old body or the new one, never a torn
  one, and two writers never share a temp name.
- ``publish_dir``: write-once directories (per-batch segments,
  tombstone sets). Hidden unique staging sibling, then one
  ``os.rename``; if ``dst`` already exists the later writer drops its
  copy. Concurrent writers therefore never share a Hadoop committer's
  ``_temporary`` dir.
- ``replace_dir`` / ``recover``: rewrites of a whole directory
  (compactions, an aggregate state table). Staging write, then
  ``dst -> dst.old``, ``staging -> dst``, drop ``dst.old``; ``recover``
  repairs a swap that crashed between any two of those steps. Single
  writer per ``dst`` (the compactors' maintenance contract).
- ``remove_dir``: retiring a directory readers may list. One
  ``os.rename`` to a hidden name, then the delete, so readers see the
  directory whole or absent, never half deleted.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid


def write_json(path: str, obj) -> None:
    """Durably replace the file ``path`` with ``obj`` as JSON."""
    fd, tmp = tempfile.mkstemp(
        prefix=f".{os.path.basename(path)}.", dir=os.path.dirname(path)
    )
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def publish_dir(df, dst: str) -> bool:
    """Write ``df`` as the parquet directory ``dst`` in one atomic step:
    the rows go to a uniquely named hidden sibling (``.``-prefixed, so
    every Spark reader skips it), which is then renamed onto ``dst``.
    Callers publish content that is deterministic per ``dst`` (or give
    each attempt its own ``dst``), so when ``dst`` already exists the
    later writer drops its copy. Returns True iff this call published
    ``dst``."""
    staging = os.path.join(
        os.path.dirname(dst), f".{os.path.basename(dst)}.{uuid.uuid4().hex}"
    )
    df.write.parquet(staging)
    try:
        os.rename(staging, dst)  # fails if dst exists and is non-empty
        return True
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        return False


def replace_dir(df, dst: str) -> None:
    """Replace the parquet directory ``dst`` with ``df`` (``df`` may read
    ``dst``: the staging write finishes before the first rename). A
    crash at any point leaves either the old or the new table for the
    next ``recover``."""
    recover(dst)
    staging, backup = dst + ".staging", dst + ".old"
    df.write.parquet(staging)
    if os.path.exists(dst):
        os.rename(dst, backup)
    os.rename(staging, dst)
    shutil.rmtree(backup, ignore_errors=True)


def recover(dst: str) -> None:
    """Repair a ``replace_dir`` interrupted mid-flight. A backup beside a
    missing ``dst`` means the crash hit between the two renames; the
    first rename only runs once staging is fully written, so a staging
    dir there is complete and is adopted (else the backup is restored).
    Any other staging (partial, or never swapped in) and any backup
    next to an intact ``dst`` is debris and is dropped."""
    staging, backup = dst + ".staging", dst + ".old"
    if not os.path.exists(dst) and os.path.exists(backup):
        os.rename(staging if os.path.exists(staging) else backup, dst)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(backup, ignore_errors=True)


def remove_dir(path: str, trash: str) -> None:
    """Remove the directory ``path`` in one atomic step: rename it to
    ``trash`` (a hidden name on the same filesystem that its owner's
    debris sweep knows), then delete that. A ``path`` already gone is a
    no-op; a crash before the delete leaves only ``trash``."""
    try:
        os.rename(path, trash)
    except FileNotFoundError:
        return
    shutil.rmtree(trash, ignore_errors=True)
