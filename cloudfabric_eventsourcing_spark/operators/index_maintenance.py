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

Crash safety: each directory is rewritten through
`commit.replace_files` (staged files visible before the fragments are
unlinked; an interrupted rewrite is repaired by `commit.recover` before
the next compaction counts anything), and the whole compaction runs
under `commit.maintenance` on the index root, so two compactions of one
index never sweep each other's staging dirs.  See `commit` for the
protocol and its crash points.

Duplicate index rows during the mid-swap window are harmless for the
dedup indexes (candidates and verdicts de-duplicate by id) and
transient for IVF top-k; run compaction from a maintenance window if
that transient matters.
"""

from __future__ import annotations

import glob
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from cloudfabric_eventsourcing_spark import commit

# subdirectories that hold row data per index layout; meta/centroids are
# single-file by construction and never need compaction
_DATASET_DIRS = ("bands", "grams", "vectors")


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


def _rewrite_dir(spark: SparkSession, d: str, n_files: int) -> None:
    """Rewrite one directory's parquet fragments into `n_files` through
    `commit.replace_files`; caller holds `commit.maintenance`."""
    frags = _data_files(d)
    # read the files directly (no partition-column inference — the
    # partition value lives in the directory name and stays there)
    commit.replace_files(
        d,
        frags,
        lambda staging: spark.read.parquet(*frags)
        .coalesce(n_files)
        .write.mode("overwrite")
        .parquet(staging),
    )


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
    # the maintenance-lock deadline; imported here so importing the
    # operators does not load the event store
    from cloudfabric_eventsourcing_spark.eventstore.store import ParquetEventStore

    datasets = [
        os.path.join(path, name)
        for name in _DATASET_DIRS
        if os.path.isdir(os.path.join(path, name))
    ]
    dirs = [x for d in datasets for x in (d, *_partition_dirs(d))]
    report: dict = {}
    with commit.maintenance(path, dirs, ParquetEventStore.LOCK_TIMEOUT_S):
        for d in datasets:
            parts = _partition_dirs(d)
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
                    list(pool.map(lambda p: _rewrite_dir(spark, p, 1), touched))
                compacted = len(touched)
                after = sum(len(_data_files(p)) for p in parts)
            else:
                before = len(_data_files(d))
                if before > max_fragments:
                    _rewrite_dir(spark, d, max_fragments)
                    compacted = 1
                after = len(_data_files(d))
            report[os.path.basename(d)] = {
                "partitions_compacted": compacted,
                "files_before": before,
                "files_after": after,
            }
    return report
