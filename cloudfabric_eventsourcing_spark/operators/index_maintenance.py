"""Compaction for the persisted operator indexes (MinHash, cosine-LSH,
IVF) — the small-files maintenance op their append modes need.

Every `mode="append"` write (dedup.save_minhash_index,
dedup.save_cosine_index, similarity.append_to_ivf_index) adds one parquet
file per partition per batch: a year of daily appends leaves ~365 files
in every band/bucket/cell directory, and the PartitionFilters probe's
file-listing advantage — the reason these indexes exist — erodes into
exactly the small-files pathology the event store already solves for
itself (eventstore/store.py compact()).  `compact_index` rewrites the
multi-file partitions back to one file each; results are provably
unchanged (same rows, fewer files — pinned by tests).

Scale shape: only partitions holding more than `max_fragments` files are
touched; each is rewritten by its own small Spark job (scan one
directory, coalesce, write), and jobs run concurrently from a thread
pool — Spark schedules concurrent jobs from separate submitter threads,
so a 2^bits-bucket index compacts wide, not serially.

Crash-safety (per partition directory, all local-FS renames atomic):

  1. the compacted file(s) are written to a DOT-PREFIXED sibling tmp
     dir (`.tmp-compact-…`) — Spark's file listing ignores dot-prefixed
     paths, so concurrent readers of the dataset never discover the tmp
     output as a bogus partition;
  2. an intent marker (`.compact-intent.json`, also invisible) is
     renamed into the directory atomically, recording the fragment
     names to unlink and the tmp→target move list;
  3. the compacted files are renamed in (readers globbing mid-swap see
     transient duplicate rows, never a partial partition);
  4. the fragments are unlinked, the marker removed, the tmp dir
     deleted.

A crash at any point leaves a state the next `compact_index` repairs
before counting anything: a parseable marker is rolled FORWARD
(finish the moves — rename is atomic, so for every move either the tmp
file or the target exists — then finish the unlinks), and tmp dirs with
no surviving marker are pre-move garbage, swept.  Without the marker, a
crash between step 3 and step 4 would leave fragments plus their
compacted copy, and the next compaction would bake those duplicate rows
into a single file permanently.

Duplicate index rows during the mid-swap window are harmless for the
dedup indexes (candidates and verdicts de-duplicate by id) and
transient for IVF top-k; run compaction from a maintenance window if
that transient matters.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# subdirectories that hold row data per index layout; meta/centroids are
# single-file by construction and never need compaction
_DATASET_DIRS = ("bands", "grams", "vectors")

_MARKER = ".compact-intent.json"
_TMP_PREFIX = ".tmp-compact-"


def _data_files(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def _partition_dirs(d: str) -> list[str]:
    return sorted(
        e.path
        for e in os.scandir(d)
        if e.is_dir()
        and "=" in os.path.basename(e.path)
        and not os.path.basename(e.path).startswith(".")
    )


def _tmp_dir_for(d: str) -> str:
    """Hidden sibling tmp dir: `<parent>/.tmp-compact-<basename>-<ns>`.
    Dot-prefixed so Spark's listing (and _partition_dirs) never sees it,
    and OUTSIDE `d` so the dataset dir itself only ever gains finished
    files."""
    return os.path.join(
        os.path.dirname(d),
        f"{_TMP_PREFIX}{os.path.basename(d)}-{time.time_ns()}",
    )


def _recover_dir(d: str) -> None:
    """Repair an interrupted _rewrite_dir on `d` (idempotent).

    The marker is renamed in atomically, so a parseable marker means
    the move list is complete and trustworthy: roll the swap forward
    (finish renames, finish unlinks), then clean up."""
    marker = os.path.join(d, _MARKER)
    part = marker + ".part"
    if os.path.exists(part):  # crash mid-marker-write: nothing moved yet
        log.warning("%s: removing a half-written compaction marker", d)
        os.unlink(part)
    if not os.path.exists(marker):
        return
    with open(marker) as fh:
        intent = json.load(fh)
    log.warning("%s: repairing an interrupted compaction (%d moves)",
                d, len(intent["moves"]))
    tmp = intent["tmp"]
    pending = [
        (src_base, dst_base)
        for src_base, dst_base in intent["moves"]
        if not os.path.exists(os.path.join(d, dst_base))
    ]
    if pending and not os.path.isdir(tmp):
        # tmp dir gone (external cleanup?) with moves still outstanding:
        # rolling forward the unlinks would LOSE the unmoved rows.  Roll
        # BACK instead: remove any compacted files already moved in
        # (they duplicate fragment rows — left in place, the next
        # compaction would bake the duplication in permanently), keep
        # the original fragments (correct, just uncompacted), drop the
        # marker, and let a later compaction retry from scratch.
        for _src_base, dst_base in intent["moves"]:
            dst = os.path.join(d, dst_base)
            if os.path.exists(dst):
                os.unlink(dst)
        os.unlink(marker)
        return
    for src_base, dst_base in pending:
        # rename is atomic: exactly one of tmp-file / target exists
        os.rename(os.path.join(tmp, src_base), os.path.join(d, dst_base))
    for frag_base in intent["frags"]:
        frag = os.path.join(d, frag_base)
        if os.path.exists(frag):
            os.unlink(frag)
    os.unlink(marker)
    shutil.rmtree(tmp, ignore_errors=True)


def _sweep_orphan_tmp(parent: str) -> None:
    """Delete `.tmp-compact-*` dirs under `parent` that no marker
    references: a tmp dir is only consumed after its marker lands, so a
    markerless tmp is pre-move garbage from a crash before step 2."""
    referenced = set()
    for marker in glob.glob(os.path.join(parent, "*", _MARKER)) + glob.glob(
        os.path.join(parent, _MARKER)
    ):
        try:
            with open(marker) as fh:
                # realpath both sides: a marker written under one path
                # spelling (relative cwd, symlinked root) must protect
                # its tmp dir from a sweep under another — comparing raw
                # strings would delete a live marker-referenced tmp and
                # strand _recover_dir's roll-forward
                referenced.add(os.path.realpath(json.load(fh)["tmp"]))
        except (OSError, json.JSONDecodeError, KeyError):
            continue
    for tmp in glob.glob(os.path.join(parent, f"{_TMP_PREFIX}*")):
        if os.path.realpath(tmp) not in referenced:
            shutil.rmtree(tmp, ignore_errors=True)


def _rewrite_dir(spark: SparkSession, d: str, n_files: int) -> None:
    """Rewrite one directory's parquet fragments into `n_files`, visible
    before the fragments are unlinked (readers may transiently see
    duplicate rows, never fewer).  Crash-safe via the intent marker —
    see the module docstring."""
    frags = _data_files(d)
    tmp = _tmp_dir_for(d)
    # read the files directly (no partition-column inference — the
    # partition value lives in the directory name and stays there)
    spark.read.parquet(*frags).coalesce(n_files).write.mode(
        "overwrite"
    ).parquet(tmp)
    stamp = time.time_ns()
    moves = [
        (
            os.path.basename(f),
            f"part-{stamp:020d}-{i:05d}-compacted.parquet",
        )
        for i, f in enumerate(_data_files(tmp))
    ]
    intent = {
        # realpath: the marker must reference the tmp dir by a spelling
        # that survives a different cwd / a symlinked index root, or a
        # post-crash sweep under the other spelling would treat it as
        # orphaned (see _sweep_orphan_tmp)
        "tmp": os.path.realpath(tmp),
        "moves": moves,
        "frags": [os.path.basename(f) for f in frags],
    }
    marker = os.path.join(d, _MARKER)
    with open(marker + ".part", "w") as fh:
        json.dump(intent, fh)
    os.rename(marker + ".part", marker)  # atomic: marker is all-or-nothing
    for src_base, dst_base in moves:
        os.rename(os.path.join(tmp, src_base), os.path.join(d, dst_base))
    for f in frags:
        os.unlink(f)
    os.unlink(marker)
    shutil.rmtree(tmp, ignore_errors=True)


def compact_index(
    spark: SparkSession,
    path: str,
    max_fragments: int = 1,
    parallelism: int = 8,
) -> dict:
    """Compact a persisted index directory written by save_minhash_index,
    save_cosine_index, or save_ivf_index (+ their append modes).

    Rewrites every partition directory holding more than `max_fragments`
    parquet files down to one file, and flat datasets (the MinHash grams
    table) down to `max_fragments` via coalesce.  Repairs any
    interrupted previous compaction first.  Returns a report:
    {dataset: {"partitions_compacted": n, "files_before": b, "files_after": a}}.
    """
    report: dict = {}
    for name in _DATASET_DIRS:
        d = os.path.join(path, name)
        if not os.path.isdir(d):
            continue
        parts = _partition_dirs(d)
        # finish any interrupted swap before trusting file counts
        _recover_dir(d)
        for p in parts:
            _recover_dir(p)
        _sweep_orphan_tmp(d)
        _sweep_orphan_tmp(os.path.dirname(d))
        before = 0
        compacted = 0
        if parts:
            touched = []
            for p in parts:
                n = len(_data_files(p))
                before += n
                if n > max_fragments:
                    touched.append(p)
            with ThreadPoolExecutor(max_workers=parallelism) as pool:
                list(
                    pool.map(
                        lambda p: _rewrite_dir(spark, p, 1), touched
                    )
                )
            compacted = len(touched)
            after = sum(len(_data_files(p)) for p in parts)
        else:
            before = len(_data_files(d))
            if before > max_fragments:
                _rewrite_dir(spark, d, max_fragments)
                compacted = 1
            after = len(_data_files(d))
        report[name] = {
            "partitions_compacted": compacted,
            "files_before": before,
            "files_after": after,
        }
    return report
