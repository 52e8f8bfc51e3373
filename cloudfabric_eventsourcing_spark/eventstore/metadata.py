"""Metadata/items key-value store.

Behavioral spec (reference, read-only):
  - IMetadataRepository: CloudFabric.EventSourcing.EventStore/IMetadataRepository.cs:3-13
  - Postgres DDL `(id varchar UNIQUE, partition_key, data jsonb)` + upsert:
    PostgresqlEventStore.cs:547-555
  - scenarios: CloudFabric.EventSourcing.Tests/MetadataRepositoryTests.cs
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
from typing import Any, Optional

from cloudfabric_eventsourcing_spark.eventstore.locking import exclusive_lock
from cloudfabric_eventsourcing_spark.eventstore.store import ParquetEventStore


class InMemoryMetadataRepository:
    def __init__(self) -> None:
        import threading

        self._items: dict[tuple[str, str], Any] = {}
        self._lock = threading.Lock()

    def upsert_item(self, id: str, partition_key: str, item: Any) -> None:
        with self._lock:
            self._items[(id, partition_key)] = item

    def load_item(self, id: str, partition_key: str) -> Optional[Any]:
        return self._items.get((id, partition_key))

    def list_ids(self, partition_key: str) -> list[str]:
        with self._lock:
            return [i for i, pk in self._items if pk == partition_key]

    def compare_and_upsert(
        self, id: str, partition_key: str, item: Any, expected: Any
    ) -> bool:
        """Atomic compare-and-swap: write only if the stored value still
        equals ``expected`` (None = key absent).  The optimistic-lock
        primitive the rebuild lease uses (the reference's conditional
        UPDATE ... WHERE updated_at = @seen)."""
        with self._lock:
            if self._items.get((id, partition_key)) != expected:
                return False
            self._items[(id, partition_key)] = item
            return True


class JsonFileMetadataRepository:
    """Single-JSON-file store with atomic replace (small metadata only —
    index state, rebuild progress; not a data path).

    Writes hold an exclusive flock on the sidecar `<path>.lock` around
    the load-modify-save — the same kernel-released lock the parquet
    event store takes per stream (`eventstore/locking.py`) — so
    concurrent THREADS and PROCESSES (the reference worker's
    maxParallelTasks shape, ProjectionsRebuildProcessor.cs:28-59) cannot
    lose each other's updates to different keys: without it, two workers
    leasing two different projections could each read the file, apply
    their own key, and the later replace would erase the earlier
    worker's lease.  Reads stay lock-free — the atomic replace
    guarantees every reader sees a complete (if slightly stale)
    snapshot, and the compare-and-swap the state store requires rejects
    a write based on a stale read."""

    def __init__(self, path: str):
        self.path = path

    def _load(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def _save(self, data: dict) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path) or ".")
        with os.fdopen(fd, "w") as f:
            json.dump(data, f)
        os.replace(tmp, self.path)

    @contextlib.contextmanager
    def _file_lock(self):
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with exclusive_lock(self.path + ".lock", ParquetEventStore.LOCK_TIMEOUT_S):
            yield

    def upsert_item(self, id: str, partition_key: str, item: Any) -> None:
        with self._file_lock():
            data = self._load()
            data[f"{partition_key}\x00{id}"] = item
            self._save(data)

    def compare_and_upsert(
        self, id: str, partition_key: str, item: Any, expected: Any
    ) -> bool:
        """Cross-process compare-and-swap under the advisory lock: write
        only if the stored value still equals ``expected`` (None = key
        absent).  Two worker processes racing to lease the same rebuild
        serialize here; the loser sees the winner's lease and moves on."""
        with self._file_lock():
            data = self._load()
            key = f"{partition_key}\x00{id}"
            if data.get(key) != expected:
                return False
            data[key] = item
            self._save(data)
            return True

    def load_item(self, id: str, partition_key: str) -> Optional[Any]:
        return self._load().get(f"{partition_key}\x00{id}")

    def list_ids(self, partition_key: str) -> list[str]:
        prefix = f"{partition_key}\x00"
        return [k[len(prefix):] for k in self._load() if k.startswith(prefix)]
