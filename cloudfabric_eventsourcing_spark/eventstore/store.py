"""Event stores: in-memory (parity/unit-test backend) and parquet-directory
(the Spark-facing backend).

Behavioral spec (reference, read-only):
  - interface: CloudFabric.EventSourcing.EventStore/IEventStore.cs:7-36
  - append with optimistic concurrency (version precheck in a transaction,
    consecutive versions, single partition key per batch, post-commit push
    to subscribers): PostgresqlEventStore.cs:369-471; in-memory CAS:
    Implementations/...InMemory/InMemoryEventStore.cs:158-213
  - stream scan ordered by version: PostgresqlEventStore.cs:192-297
  - chronological scan (replay source), strict `created_at > date_from`,
    ORDER BY created_at LIMIT n: PostgresqlEventStore.cs:299-367
  - statistics: :53-99; delete-all :101-136; hard delete :137-178
  - subscriber push: :462-481

Scale design (SURVEY.md §7): the parquet store is the single-node stand-in
for a Delta/Iceberg table — an append-only directory of parquet fragments,
one fragment per committed append batch, with a commit lock providing the
transaction boundary. Analytical access goes through Spark
(`to_df`/`read_stream`); point reads (single stream, version checks) use
pyarrow dataset scans with predicate pushdown driver-side, mirroring the
reference's indexed point SQL without spinning a distributed job. On a real
cluster the same API maps onto Delta `MERGE`/append + conflict retry; the
layout (partition_key=... directories) is chosen so partition pruning works
identically there.

Divergence (documented): on version conflict BOTH backends raise
OptimisticConcurrencyError (the reference's Postgres backend throws; its
in-memory backend returns false — we prefer the stricter contract).
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import hashlib
import json
import os
import threading
import time
import uuid
from typing import Callable, Iterable, Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq

from cloudfabric_eventsourcing_spark.eventstore.event import (
    SCHEMA_VERSION,
    Event,
    EventRecord,
    EventStoreStatistics,
    EventStream,
    OptimisticConcurrencyError,
    StreamNotFoundError,
)
from cloudfabric_eventsourcing_spark import commit
from cloudfabric_eventsourcing_spark.eventstore.locking import exclusive_lock

Subscriber = Callable[[Event], None]


class EventStore:
    """Abstract store (IEventStore.cs:7-36)."""

    def initialize(self) -> None:
        raise NotImplementedError

    def load_stream(
        self, stream_id: str, partition_key: str, from_version: Optional[int] = None
    ) -> EventStream:
        raise NotImplementedError

    def load_stream_or_throw(self, stream_id: str, partition_key: str) -> EventStream:
        stream = self.load_stream(stream_id, partition_key)
        if not stream.events:
            raise StreamNotFoundError(f"stream {stream_id!r} ({partition_key!r})")
        return stream

    def load_events(
        self,
        partition_key: Optional[str] = None,
        date_from: Optional[datetime.datetime] = None,
        limit: int = 250,
    ) -> list[Event]:
        raise NotImplementedError

    def append_to_stream(
        self,
        user_info: dict,
        stream_id: str,
        expected_version: int,
        events: Iterable[Event],
    ) -> bool:
        raise NotImplementedError

    def get_statistics(self) -> EventStoreStatistics:
        raise NotImplementedError

    def delete_all(self) -> None:
        raise NotImplementedError

    def hard_delete(self, stream_id: str, partition_key: str) -> bool:
        raise NotImplementedError

    # S4: in-process push on append (PostgresqlEventStore.cs:473-481)
    def subscribe(self, handler: Subscriber) -> None:
        self._subscribers.append(handler)

    _subscribers: list[Subscriber]

    # -- shared helpers -----------------------------------------------------
    @staticmethod
    def _prepare_records(
        user_info: dict,
        stream_id: str,
        expected_version: int,
        events: list[Event],
    ) -> list[EventRecord]:
        # single partition key per batch (PostgresqlEventStore.cs:378-381)
        pks = {e.partition_key for e in events}
        if len(pks) != 1:
            raise ValueError(
                "Partition keys for all events in the stream must be the same"
            )
        user_json = json.dumps(user_info or {}, sort_keys=True)
        records = []
        version = expected_version
        for e in events:
            version += 1
            ts = e.timestamp
            if ts.tzinfo is not None:
                ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            records.append(
                EventRecord(
                    id=str(uuid.uuid4()),
                    partition_key=e.partition_key,
                    created_at=ts,
                    stream_id=stream_id,
                    stream_version=version,
                    event_type=e.event_type,
                    event_data=e.payload_json(),
                    user_info=user_json,
                    eventstore_schema_version=SCHEMA_VERSION,
                )
            )
        return records

    def _push(self, events: list[Event]) -> None:
        for e in events:
            for h in self._subscribers:
                h(e)


class InMemoryEventStore(EventStore):
    """Driver-memory backend (parity with the reference's InMemory store)."""

    def __init__(self) -> None:
        self._streams: dict[tuple[str, str], list[EventRecord]] = {}
        self._lock = threading.Lock()
        self._subscribers = []

    def initialize(self) -> None:
        pass

    def load_stream(self, stream_id, partition_key, from_version=None):
        records = sorted(
            self._streams.get((stream_id, partition_key), []),
            key=lambda r: r.stream_version,
        )
        version = records[-1].stream_version if records else 0
        if from_version is not None:
            records = [r for r in records if r.stream_version >= from_version]
        return EventStream(stream_id, version, [r.to_event() for r in records])

    def load_events(self, partition_key=None, date_from=None, limit=250):
        records = [
            r
            for key, recs in self._streams.items()
            for r in recs
            if partition_key is None or key[1] == partition_key
        ]
        if date_from is not None:
            records = [r for r in records if r.created_at > date_from]  # strict >
        records.sort(key=lambda r: r.created_at)
        return [r.to_event() for r in records[:limit]]

    def append_to_stream(self, user_info, stream_id, expected_version, events):
        events = list(events)
        if not events:
            return True  # legal no-op, same contract as the parquet backend
        with self._lock:
            partition_key = events[0].partition_key
            current = self.load_stream(stream_id, partition_key)
            if current.version != expected_version:
                raise OptimisticConcurrencyError(
                    f"stream {stream_id}: expected version {expected_version}, "
                    f"store has {current.version} — another writer appended"
                )
            records = self._prepare_records(
                user_info, stream_id, expected_version, events
            )
            self._streams.setdefault((stream_id, partition_key), []).extend(records)
        self._push(events)
        return True

    def get_statistics(self):
        all_ts = [r.created_at for recs in self._streams.values() for r in recs]
        return EventStoreStatistics(
            total_events_count=len(all_ts),
            first_event_created_at=min(all_ts) if all_ts else None,
            last_event_created_at=max(all_ts) if all_ts else None,
        )

    def delete_all(self):
        self._streams.clear()

    def hard_delete(self, stream_id, partition_key):
        return self._streams.pop((stream_id, partition_key), None) is not None

    # Spark access for the projection/query layers
    def to_df(self, spark):
        from pyspark.sql import types as T

        rows = [
            tuple(getattr(r, f) for f in _ARROW_SCHEMA.names)
            for recs in self._streams.values()
            for r in recs
        ]
        return spark.createDataFrame(rows, schema=_SPARK_SCHEMA_DDL) if rows else (
            spark.createDataFrame([], schema=_SPARK_SCHEMA_DDL)
        )


_ARROW_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("partition_key", pa.string()),
        ("created_at", pa.timestamp("us")),
        ("stream_id", pa.string()),
        ("stream_version", pa.int32()),
        ("event_type", pa.string()),
        ("event_data", pa.string()),
        ("user_info", pa.string()),
        ("eventstore_schema_version", pa.int32()),
    ]
)

_SPARK_SCHEMA_DDL = (
    "id string, partition_key string, created_at timestamp, stream_id string, "
    "stream_version int, event_type string, event_data string, user_info string, "
    "eventstore_schema_version int"
)


class ParquetEventStore(EventStore):
    """Append-only parquet-directory store.

    Layout: `{path}/part-<time_ns>-<uuid>.parquet`, one fragment per
    committed append. The transaction boundary is PER STREAM: an
    exclusive flock on `{path}/_locks/commit-<streamhash>.lock` serializes
    writers of one stream — threads and processes alike — while appends
    to DISJOINT streams proceed in parallel; optimistic-concurrency
    semantics identical to the reference's per-stream version check
    (SURVEY.md §7 "genuinely hard parts" #1).  The kernel releases a
    flock when its holder dies, so a crashed writer never blocks the
    stream and a slow live one is never raced.  Lock files persist
    (`eventstore/locking.py`); Spark's listing skips the `_locks/`
    directory and the fragment glob never sees it.
    """

    LOCK_TIMEOUT_S = 30.0

    def __init__(self, path: str):
        self.path = path
        self._subscribers = []
        # incremental per-stream version cache: fragments are immutable, so
        # scanning each NEW fragment once (under the commit lock) keeps
        # appends amortized O(1) instead of O(total fragments) — the
        # parquet-store analogue of the reference's stream_id index
        # (PostgresqlEventStore.cs:521-526)
        self._versions: dict[tuple[str, str], int] = {}
        self._stream_fragments: dict[tuple[str, str], list[str]] = {}
        self._seen_fragments: set[str] = set()
        self._cache_guard = threading.Lock()

    def initialize(self) -> None:
        os.makedirs(os.path.join(self.path, "_locks"), exist_ok=True)

    def _lock_path(self, name: str) -> str:
        return os.path.join(self.path, "_locks", f"{name}.lock")

    def _stream_lock_path(self, stream_id: str, partition_key: str) -> str:
        key = hashlib.sha1(f"{stream_id}\x00{partition_key}".encode()).hexdigest()
        return self._lock_path(f"commit-{key[:12]}")

    # -- dataset helpers ----------------------------------------------------
    def _fragments(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.path, "part-*.parquet")))

    def _dataset(self) -> Optional[pa_ds.Dataset]:
        frags = self._fragments()
        if not frags:
            return None
        return pa_ds.dataset(frags, schema=_ARROW_SCHEMA, format="parquet")

    def _scan(self, filter_expr=None, columns=None) -> pa.Table:
        def read():
            ds = self._dataset()
            if ds is None:
                return _ARROW_SCHEMA.empty_table()
            return ds.to_table(filter=filter_expr, columns=columns)

        return _relist_on_vanish(read)

    # -- reads --------------------------------------------------------------
    def load_stream(self, stream_id, partition_key, from_version=None):
        # point read through the fragment index: only files containing this
        # stream are opened (mirrors the reference's (stream_id,
        # partition_key) index — PostgresqlEventStore.cs:521-526)
        expr = (pc.field("stream_id") == stream_id) & (
            pc.field("partition_key") == partition_key
        )

        def read():
            self._refresh_version_cache()
            frags = [
                f
                for f in self._stream_fragments.get((stream_id, partition_key), [])
                if os.path.exists(f)
            ]
            if not frags:
                return None
            ds = pa_ds.dataset(frags, schema=_ARROW_SCHEMA, format="parquet")
            return ds.to_table(filter=expr)

        table = _relist_on_vanish(read)
        if table is None:
            return EventStream(stream_id, 0, [])
        table = table.sort_by("stream_version")
        version = (
            int(table["stream_version"][-1].as_py()) if table.num_rows else 0
        )
        records = _dedupe_versions(_records_from_table(table))
        if from_version is not None:
            records = [r for r in records if r.stream_version >= from_version]
        return EventStream(stream_id, version, [r.to_event() for r in records])

    def load_events(self, partition_key=None, date_from=None, limit=250):
        expr = None
        if partition_key is not None:
            expr = pc.field("partition_key") == partition_key
        if date_from is not None:
            date_expr = pc.field("created_at") > pa.scalar(
                date_from, type=pa.timestamp("us")
            )
            expr = date_expr if expr is None else (expr & date_expr)
        table = self._scan(expr).sort_by("created_at")
        # a reader globbing mid-compaction-swap can see a row in BOTH the
        # new snapshot and a not-yet-unlinked source fragment; drop the
        # duplicates (same physical event id) before applying the limit.
        # Convert slice-by-slice: outside the swap window (the common case)
        # exactly `limit` rows are materialized, same as pre-dedupe cost —
        # a full-table conversion here made chunked serial replay O(n^2).
        seen: set[str] = set()
        records: list[EventRecord] = []
        offset = 0
        while len(records) < limit and offset < table.num_rows:
            for r in _records_from_table(table.slice(offset, limit)):
                if r.id in seen:
                    continue
                seen.add(r.id)
                records.append(r)
                if len(records) >= limit:
                    break
            offset += limit
        return [r.to_event() for r in records]

    def _refresh_version_cache(self) -> None:
        """Fold versions from fragments not yet seen. Reads only the 3 key
        columns of each new fragment. Thread-safe via the cache guard;
        correctness for stream X relies on X's fragments being stable,
        which X's commit lock guarantees."""
        with self._cache_guard:
            _relist_on_vanish(self._refresh_version_cache_locked)

    def _refresh_version_cache_locked(self) -> None:
        for frag in self._fragments():
            if frag in self._seen_fragments:
                continue
            table = pq.read_table(
                frag, columns=["stream_id", "partition_key", "stream_version"]
            )
            touched = set()
            for row in table.to_pylist():
                key = (row["stream_id"], row["partition_key"])
                if row["stream_version"] > self._versions.get(key, 0):
                    self._versions[key] = row["stream_version"]
                touched.add(key)
            for key in touched:
                self._stream_fragments.setdefault(key, []).append(frag)
            self._seen_fragments.add(frag)

    def _invalidate_version_cache(self) -> None:
        with self._cache_guard:
            self._versions.clear()
            self._stream_fragments.clear()
            self._seen_fragments.clear()

    def _max_version(self, stream_id: str, partition_key: str) -> int:
        self._refresh_version_cache()
        return self._versions.get((stream_id, partition_key), 0)

    # -- append (S3) --------------------------------------------------------
    def append_to_stream(self, user_info, stream_id, expected_version, events):
        events = list(events)
        if not events:
            return True
        pk = events[0].partition_key
        with exclusive_lock(self._stream_lock_path(stream_id, pk), self.LOCK_TIMEOUT_S):
            current = self._max_version(stream_id, pk)
            if current != expected_version:
                raise OptimisticConcurrencyError(
                    f"stream {stream_id}: expected version {expected_version}, "
                    f"store has {current} — another writer appended"
                )
            records = self._prepare_records(
                user_info, stream_id, expected_version, events
            )
            written = self._write_fragment(records)
            # fold the fragment we just wrote into the cache directly —
            # unless a concurrent thread's refresh already globbed and
            # indexed it (double-listing would duplicate the stream's
            # events on point reads)
            with self._cache_guard:
                if written not in self._seen_fragments:
                    self._seen_fragments.add(written)
                    key = (stream_id, pk)
                    self._versions[key] = records[-1].stream_version
                    self._stream_fragments.setdefault(key, []).append(written)
        self._push(events)
        return True

    def _write_fragment(self, records: list[EventRecord]) -> str:
        name = f"part-{time.time_ns():020d}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = os.path.join(self.path, f".tmp-{name}")
        table = _table_from_records(records)
        pq.write_table(table, tmp)
        out = os.path.join(self.path, name)
        os.rename(tmp, out)
        return out

    # -- maintenance --------------------------------------------------------
    # Durability invariant (the reference's delete/compaction runs inside a
    # Postgres transaction — PostgresqlEventStore.cs:101-178): a rewrite
    # only ever unlinks the EXACT fragment list it was built from, so an
    # append that commits concurrently is never folded away — its fragment
    # simply survives next to the rewritten snapshot, so appends never wait
    # for maintenance. The maintenance lock serializes maintenance ops
    # against each other (e.g. a hard_delete during a compact would
    # otherwise resurrect the deleted rows).  The swap and its crash
    # recovery are `commit.replace_files` / `commit.recover` (see that
    # module's docstring).

    @contextlib.contextmanager
    def _maintenance(self):
        # repair a swap a previous maintenance op left half-done BEFORE
        # this op reads the fragment list
        with commit.maintenance(self.path, [self.path], self.LOCK_TIMEOUT_S) as repaired:
            if repaired:
                self._invalidate_version_cache()
            yield

    def compact(self, max_fragments: int = 1) -> None:
        """Fold many small append fragments into one (the parquet-store
        analogue of Delta OPTIMIZE; call periodically from a maintenance
        job)."""
        with self._maintenance():
            frags = self._fragments()
            if len(frags) <= max_fragments:
                return
            # cluster by stream so row-group min/max statistics prune point
            # reads after compaction (the Z-ORDER analogue); chronological
            # order is re-established by readers' own sorts
            ds = pa_ds.dataset(frags, schema=_ARROW_SCHEMA, format="parquet")
            table = ds.to_table().sort_by(
                [("stream_id", "ascending"), ("stream_version", "ascending")]
            )
            commit.replace_files(self.path, frags, _snapshot_writer(table))
            self._invalidate_version_cache()

    def get_statistics(self):
        table = self._scan(columns=["created_at"])
        if table.num_rows == 0:
            return EventStoreStatistics(0, None, None)
        return EventStoreStatistics(
            total_events_count=table.num_rows,
            first_event_created_at=pc.min(table["created_at"]).as_py(),
            last_event_created_at=pc.max(table["created_at"]).as_py(),
        )

    def delete_all(self):
        with self._maintenance():
            for f in self._fragments():
                os.unlink(f)
            self._invalidate_version_cache()

    def hard_delete(self, stream_id, partition_key):
        expr = ~(
            (pc.field("stream_id") == stream_id)
            & (pc.field("partition_key") == partition_key)
        )
        with self._maintenance():
            frags = self._fragments()
            if not frags:
                return False
            ds = pa_ds.dataset(frags, schema=_ARROW_SCHEMA, format="parquet")
            before = ds.count_rows()
            kept = ds.to_table(filter=expr)
            if kept.num_rows == before:
                return False
            commit.replace_files(self.path, frags, _snapshot_writer(kept))
            self._invalidate_version_cache()
            return True

    # -- Spark access -------------------------------------------------------
    def to_df(self, spark):
        frags = self._fragments()
        if not frags:
            return spark.createDataFrame([], schema=_SPARK_SCHEMA_DDL)
        return spark.read.schema(_SPARK_SCHEMA_DDL).parquet(self.path)

    def read_stream(self, spark, date_from=None):
        """Structured Streaming source over the store directory (S4 change
        feed — each committed fragment becomes part of a micro-batch).

        `date_from` starts the subscription at a point in time — the
        reference change feed's StartTime
        (CosmosDbEventStoreChangeFeedObserver.cs:67-93): events with
        created_at >= date_from flow, older ones are filtered at the
        source (the predicate sits directly on the scan, so parquet
        row-group stats prune old fragments).  INCLUSIVE on the boundary
        by design: multiple events can share the boundary microsecond,
        and an exclusive start would silently skip the later ones — the
        same reasoning as replay_events' one-µs re-read.  A consumer
        that replayed up to `date_from` therefore sees the boundary
        events twice and must dedup by event id, exactly like the
        replay path (the projections observer's parity mode and the
        distributed MERGE are both idempotent per event id already)."""
        stream = (
            spark.readStream.schema(_SPARK_SCHEMA_DDL)
            .option("maxFilesPerTrigger", 1000)
            .parquet(self.path)
        )
        if date_from is not None:
            from pyspark.sql import functions as F

            stream = stream.where(F.col("created_at") >= F.lit(date_from))
        return stream


def _table_from_records(records: list[EventRecord]) -> pa.Table:
    cols = {
        name: [getattr(r, name) for r in records] for name in _ARROW_SCHEMA.names
    }
    return pa.table(cols, schema=_ARROW_SCHEMA)


def _snapshot_writer(table: pa.Table):
    """`commit.replace_files` writer: one snapshot file with small row
    groups, so per-stream point reads skip unrelated groups."""
    return lambda staging: pq.write_table(
        table, os.path.join(staging, "snapshot.parquet"), row_group_size=4096
    )


def _records_from_table(table: pa.Table) -> list[EventRecord]:
    return [EventRecord(**row) for row in table.to_pylist()]


def fold_streams(events_df, fold: Callable[[list[Event]], list[dict]], struct):
    """The one per-stream fold kernel: aggregates (`domain.fold_all`),
    projection rebuilds and live micro-batches
    (`projections.distributed.fold_builder_documents`) all replay a
    stream here.

    One `groupBy(stream_id, partition_key).applyInArrow` over the store's
    columns. Each group is sorted by `stream_version`, deduped with the
    point reads' `_dedupe_versions` (a frame listed mid-compaction holds
    every event twice), hydrated with the store's own codec, and handed
    to ``fold(events) -> list[dict]``; the rows come back as an Arrow
    table typed by `struct` (a StructType or a DDL string)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(struct, str):
        struct = _parse_datatype_string(struct)
    # typed from the Spark struct: Spark rejects a result whose Arrow
    # types differ from its own (it expects timestamps tz=UTC)
    out_schema = to_arrow_schema(struct)

    def kernel(table):
        # Spark hands the rows over tz-aware; cast back to the store's row
        # types so hydration sees exactly what a point read sees
        records = _records_from_table(
            table.cast(_ARROW_SCHEMA).sort_by("stream_version")
        )
        events = [r.to_event() for r in _dedupe_versions(records)]
        return pa.Table.from_pylist(fold(events), schema=out_schema)

    return (
        events_df.select(*_ARROW_SCHEMA.names)
        .groupBy("stream_id", "partition_key")
        .applyInArrow(kernel, struct)
    )


def _relist_on_vanish(read):
    """Run `read()` again while it fails on a fragment it listed that has
    since been unlinked.  A compaction — possibly by another store
    instance or process — renames its snapshot in BEFORE unlinking the
    sources, so listing again always finds the vanished rows."""
    while True:
        try:
            return read()
        except FileNotFoundError:
            continue


def _dedupe_versions(records: list[EventRecord]) -> list[EventRecord]:
    """Drop duplicate stream_versions from a version-sorted single-stream
    read: during the compaction swap window (commit.replace_files publishes
    the snapshot BEFORE unlinking sources) a reader can see every event
    twice; without this, aggregate rehydration would apply each event
    twice."""
    out: list[EventRecord] = []
    for r in records:
        if out and out[-1].stream_version == r.stream_version:
            continue
        out.append(r)
    return out
