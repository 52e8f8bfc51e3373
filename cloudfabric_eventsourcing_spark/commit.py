"""Crash-safe replace protocols shared by the event store, the operator
index compaction, the cluster index, the streaming-curation corpus and
the parquet projection snapshots.

Every multi-step replace in the package is one of three protocols, each
a write-ahead intent followed by a commit — the shape Structured
Streaming's sources, sinks and state store share (SIGMOD 2018):

**`replace_files` + `recover`** (local `os`): swap a known file set in a
directory that others keep appending to — the event store's fragment
directory (`ParquetEventStore.compact` / `hard_delete`) and each
partition or flat dataset directory of a persisted operator index
(`operators.index_maintenance.compact_index`).  All local renames are
atomic.

  1. the new files are written to a hidden staging dir (`.tmp-commit-…`)
     inside the directory — Spark's file listing and the fragment glob
     ignore dot-prefixed paths, so no reader discovers staged output;
  2. an intent marker (`.commit-intent.json`, also hidden) is written
     aside and renamed in atomically, recording the staging dir, the
     staged→target move list and the exact old files to unlink;
  3. the staged files are renamed in (a reader listing mid-swap sees
     transient duplicate rows, never a partial set);
  4. exactly the old files are unlinked — files appended concurrently
     are never in the list, so they survive next to the new ones —
     then the marker and the staging dir are removed.

A crash at any point leaves a state `recover` repairs before the next
maintenance op reads anything: a parseable marker is rolled FORWARD
(finish the moves — for every move either the staged file or the
target exists — then finish the unlinks); if a staged file it still
needs is gone (external cleanup), no old file has been unlinked yet,
so it rolls BACK instead (remove the moved-in files, keep the old
ones).  A half-written marker is removed, and every staging dir no
marker references is pre-marker garbage and is swept.  Without the
marker, a crash between steps 3 and 4 would leave the old files plus
their replacement, and the next rewrite would bake those duplicate
rows in permanently (or resurrect rows a `hard_delete` removed).

Recovery and the sweep are only sound while no other replace on the
same root is between steps 1 and 2 — a sweep would delete its staging
dir, and it would then commit an empty move list and unlink every old
file.  `maintenance` therefore holds the root's
`_locks/maintenance.lock` (`eventstore/locking.exclusive_lock`) around
recover → operate.

**`swap_dir` + `recover_swap_dir`** (Hadoop FS via the session's JVM,
so local, hdfs:// and s3a:// paths behave alike): replace a whole
directory that nobody else writes — the cluster index base labels
(`operators.graph.compact_cluster_index`) and a curation epoch dir
(`streaming.curation`).  The new rows are written to a hidden
`.tmp-commit-<name>` sibling, `_COMMITTED` is stamped in it once the
write finished, the old dir is renamed aside to `.old-commit-<name>`,
the staged dir renamed in and the old copy deleted; the directory
never passes through an empty or partial state.  Hadoop's
`FileSystem.rename` reports failure by returning false, so every rename
is checked: an unchecked false would let the debris sweep delete the
rows the failed rename left stranded.  `recover_swap_dir` rolls a
missing directory forward from a committed sibling, back from the old
copy otherwise, then deletes both siblings.

**`clear_marker` / `stamp_marker` / `require_marker`** (Hadoop FS): the
consistency marker of the persisted operator indexes (MinHash, cosine,
Hamming, IVF, PQ, BPE).  Their full saves write several parts as
separate jobs; the marker is cleared first and stamped last, so a
crash in between leaves an index every reader refuses loudly instead
of parts that silently disagree.

**`publish` + `latest`** (local `os`): the versioned snapshots of a
`ParquetProjectionRepository` index.  The write fills a hidden
`.tmp-commit-<uuid>` dir in the index dir; one rename publishes it as
`snapshot-<seq>.dir`, `seq` one past the snapshot the writer read.  The
rename is the version check: of two writers that read one base, the
second gets `SnapshotConflictError` instead of dropping the first's
rows.  Readers resolve `latest()` and read that snapshot; a superseded
one is deleted only `RETENTION_S` after its successor was published
(Delta VACUUM's rule).  A crash before the rename leaves `latest()` at
the old snapshot (a write killed outright leaves its hidden staging dir
behind), a crash after it at the new one.

Every recovery logs one WARNING when it actually repairs something.
This module imports nothing from pyspark: the event store uses it and
stays JVM-free.
"""

from __future__ import annotations

import contextlib
import errno
import glob
import json
import logging
import os
import shutil
import time
import uuid
from typing import Callable, Iterable, Optional

log = logging.getLogger(__name__)

_MARKER = ".commit-intent.json"
_STAGING = ".tmp-commit-"
_COMMITTED = "_COMMITTED"
_CONSISTENT = "_SPARK_GRAFT_CONSISTENT"  # underscore prefix: ignored by scans


# ---------------------------------------------------------------------------
# replace_files + recover (local os)
# ---------------------------------------------------------------------------

def replace_files(d: str, old: list[str], write: Callable[[str], None]) -> None:
    """Swap exactly the files `old` in directory `d` for the parquet
    files `write(staging)` puts into a fresh staging dir inside `d`.
    Caller holds `maintenance` on the root and built the new files
    from exactly `old`."""
    staging = os.path.join(d, f"{_STAGING}{uuid.uuid4().hex}")
    os.makedirs(staging)
    write(staging)
    stamp = time.time_ns()
    moves = [
        (os.path.basename(f), f"part-{stamp:020d}-{i:05d}-compacted.parquet")
        for i, f in enumerate(sorted(glob.glob(os.path.join(staging, "*.parquet"))))
    ]
    intent = {
        "staging": os.path.basename(staging),
        "moves": moves,
        "old": [os.path.basename(f) for f in old],
    }
    marker = os.path.join(d, _MARKER)
    with open(marker + ".part", "w") as fh:
        json.dump(intent, fh)
    os.rename(marker + ".part", marker)  # atomic: marker is all-or-nothing
    _roll_forward(d, intent)


def _roll_forward(d: str, intent: dict) -> None:
    staging = os.path.join(d, intent["staging"])
    for src, dst in intent["moves"]:
        if not os.path.exists(os.path.join(d, dst)):
            os.rename(os.path.join(staging, src), os.path.join(d, dst))
    for base in intent["old"]:
        f = os.path.join(d, base)
        if os.path.exists(f):
            os.unlink(f)
    os.unlink(os.path.join(d, _MARKER))
    shutil.rmtree(staging, ignore_errors=True)


def recover(d: str) -> bool:
    """Repair an interrupted `replace_files` on `d` (idempotent; caller
    holds `maintenance` on the root).  Returns True when it changed
    anything."""
    marker = os.path.join(d, _MARKER)
    repairs = []
    if os.path.exists(marker + ".part"):  # crash mid-marker-write
        os.unlink(marker + ".part")
        repairs.append("removed a half-written marker")
    if os.path.exists(marker):
        with open(marker) as fh:
            intent = json.load(fh)
        staging = os.path.join(d, intent["staging"])
        pending = [
            src for src, dst in intent["moves"]
            if not os.path.exists(os.path.join(d, dst))
        ]
        if any(not os.path.exists(os.path.join(staging, s)) for s in pending):
            # a staged file is gone with its move outstanding, so no old
            # file was unlinked yet: rolling forward would lose the
            # unmoved rows; roll back — drop the moved-in files (they
            # duplicate old rows) and keep the old ones
            for _src, dst in intent["moves"]:
                if os.path.exists(os.path.join(d, dst)):
                    os.unlink(os.path.join(d, dst))
            os.unlink(marker)
            repairs.append(f"rolled back ({len(intent['moves'])} moves)")
        else:
            _roll_forward(d, intent)
            repairs.append(
                f"rolled forward ({len(pending)} moves, "
                f"{len(intent['old'])} old files)"
            )
    # the marker (if any) is resolved, so every staging dir left is
    # pre-marker garbage
    for staging in glob.glob(os.path.join(d, f"{_STAGING}*")):
        shutil.rmtree(staging, ignore_errors=True)
        repairs.append(f"removed leftover {os.path.basename(staging)}")
    if repairs:
        log.warning("%s: repairing an interrupted swap: %s", d, "; ".join(repairs))
    return bool(repairs)


@contextlib.contextmanager
def maintenance(root: str, dirs: Iterable[str], timeout: float):
    """Hold `root/_locks/maintenance.lock`, repair every dir in `dirs`,
    then run the body.  Yields True when a repair changed files."""
    # imported here: importing the eventstore package loads the store
    # and pyarrow.dataset, which the Hadoop-FS users of this module
    # (the operator indexes) never need
    from cloudfabric_eventsourcing_spark.eventstore.locking import exclusive_lock

    os.makedirs(os.path.join(root, "_locks"), exist_ok=True)
    with exclusive_lock(os.path.join(root, "_locks", "maintenance.lock"), timeout):
        yield any([recover(d) for d in dirs])


# ---------------------------------------------------------------------------
# swap_dir + recover_swap_dir (Hadoop FS)
# ---------------------------------------------------------------------------

def hadoop_fs(spark, path: str):
    """(Path class, FileSystem) for `path` through the session's Hadoop
    FS API — the filesystem Spark reads `path` with, whatever its
    scheme."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    return P, P(path).getFileSystem(spark._jsc.hadoopConfiguration())


def _swap_siblings(path: str) -> tuple[str, str]:
    parent, base = path.rstrip("/").rsplit("/", 1)
    return f"{parent}/{_STAGING}{base}", f"{parent}/.old-commit-{base}"


def _checked_rename(fs, P, src: str, dst: str) -> None:
    """Hadoop's rename returns false instead of raising.  Unchecked, a
    failed first swap rename would let the second move tmp INSIDE the
    still-present dir on filesystems with dir-into-dir semantics, and a
    recovery's sweep would delete rows a failed rename left stranded."""
    if not fs.rename(P(src), P(dst)):
        raise IOError(f"swap rename failed: {src} -> {dst}")


def swap_dir(spark, path: str, df) -> None:
    """Replace directory `path` with `df` written as parquet.  Caller is
    the only writer of `path` and ran `recover_swap_dir` on it first.
    On HDFS and local disks both renames are metadata-atomic; on an
    object store this maps to a manifest/table commit."""
    P, fs = hadoop_fs(spark, path)
    tmp, old = _swap_siblings(path)
    df.write.mode("overwrite").parquet(tmp)
    fs.create(P(f"{tmp}/{_COMMITTED}")).close()
    _checked_rename(fs, P, path, old)
    _checked_rename(fs, P, tmp, path)
    fs.delete(P(old), True)


def recover_swap_dir(spark, path: str) -> None:
    """Repair an interrupted `swap_dir` on `path` (idempotent)."""
    P, fs = hadoop_fs(spark, path)
    tmp, old = _swap_siblings(path)
    repairs = []
    if not fs.exists(P(path)):
        if fs.exists(P(f"{tmp}/{_COMMITTED}")):
            _checked_rename(fs, P, tmp, path)
            repairs.append("rolled forward")
        elif fs.exists(P(old)):
            _checked_rename(fs, P, old, path)
            repairs.append("rolled back")
    for p in (tmp, old):
        if fs.exists(P(p)):
            fs.delete(P(p), True)
            repairs.append(f"removed leftover {p.rsplit('/', 1)[-1]}")
    if repairs:
        log.warning("%s: repairing an interrupted swap: %s", path, "; ".join(repairs))


# ---------------------------------------------------------------------------
# consistency marker (Hadoop FS)
# ---------------------------------------------------------------------------

def _marker(spark, path: str):
    P, fs = hadoop_fs(spark, path)
    return fs, P(f"{path}/{_CONSISTENT}")


def clear_marker(spark, path: str) -> None:
    """First step of a full index save: every reader refuses the index
    until `stamp_marker` runs after the last part is written."""
    fs, mp = _marker(spark, path)
    fs.delete(mp, False)


def stamp_marker(spark, path: str) -> None:
    fs, mp = _marker(spark, path)
    fs.create(mp).close()


def require_marker(spark, path: str) -> None:
    fs, mp = _marker(spark, path)
    if not fs.exists(mp):
        raise ValueError(
            f"index at {path} has no consistency marker: a save is in "
            "flight or was interrupted (its parts may disagree). Re-run "
            "the save to completion. For an index written by an older "
            f"version, create {path}/{_CONSISTENT} after verifying it is "
            "complete."
        )


# ---------------------------------------------------------------------------
# publish + latest (local os): versioned snapshots
# ---------------------------------------------------------------------------

#: seconds a superseded snapshot outlives the publish of its successor: a
#: reader holds a snapshot only for one query or one `to_df()` plan, which
#: takes seconds on a loaded host; a minute covers that with margin.
RETENTION_S = 60.0

#: `publish(base=LATEST)` replaces whatever is newest when the write is done
LATEST = object()


class SnapshotConflictError(RuntimeError):
    """A successor of the snapshot a writer read is already published."""


def _seq(path: Optional[str]) -> int:
    if path is None:
        return -1
    return int(os.path.basename(path).removeprefix("snapshot-").removesuffix(".dir"))


def _snapshots(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "snapshot-*.dir")), key=_seq)


def latest(d: str) -> Optional[str]:
    """The newest published `snapshot-<seq>.dir` in `d`, or None."""
    return (_snapshots(d) or [None])[-1]


def publish(d: str, write: Callable[[str], None], base=LATEST) -> tuple[str, list[str]]:
    """Publish what `write(staging)` puts in a fresh hidden dir in `d` as
    the successor of snapshot `base` (the path the writer read, None for
    none) and retire superseded snapshots; returns the published and the
    retired paths.  If a successor of `base` exists, the staged write is
    dropped and `SnapshotConflictError` raised.  Publishes into one `d`
    are serialized and each rewrites the whole snapshot, so at most
    1 + `RETENTION_S` / (seconds one publish takes) snapshots are kept."""
    staging = os.path.join(d, f"{_STAGING}{uuid.uuid4().hex}")
    os.makedirs(staging)  # creates `d` too
    try:
        write(staging)
        os.utime(staging)  # its mtime is the publish time retiring reads
        read = latest(d) if base is LATEST else base
        out = os.path.join(d, f"snapshot-{_seq(read) + 1:08d}.dir")
        # the successor of a base older than the newest may be retired
        # already, and the rename alone would not fail onto a free slot
        if latest(d) != read:
            raise SnapshotConflictError(f"{d}: a snapshot newer than {read} exists")
        try:
            os.rename(staging, out)  # fails onto an existing, non-empty dir
        except OSError as e:
            if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                raise
            raise SnapshotConflictError(f"{out} is already published") from None
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    # retire each snapshot whose successor is `RETENTION_S` old
    snaps, retired = _snapshots(d), []
    for old, successor in zip(snaps, snaps[1:]):
        try:
            if time.time() - os.stat(successor).st_mtime < RETENTION_S:
                break
        except FileNotFoundError:  # a concurrent publish retired it
            pass
        shutil.rmtree(old, ignore_errors=True)
        retired.append(old)
    return out, retired
