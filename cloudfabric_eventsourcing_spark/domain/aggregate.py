"""Aggregates: fold of an event stream + repository.

Behavioral spec (reference, read-only):
  - AggregateBase: CloudFabric.EventSourcing.Domain/AggregateBase.cs
      fold-on-construct (:26-43), Version = applied events (:85),
      UncommittedEvents (:90), OnChangesSaved (:92-96), Apply stamps
      AggregateId/PartitionKey (:100-109), dynamic `On(event)` dispatch
      (:111-114), HashStringToGuid natural keys (:70-80)
  - AggregateRepository: AggregateRepository.cs — LoadAsync = load+fold
      (:15-27), derived-type reconstruction from first event's
      AggregateType (:41-68), SaveAsync appends UncommittedEvents with
      expectedVersion = aggregate.Version (:76-101)

Dispatch: the C# `dynamic` double-dispatch to `On(ConcreteEvent)` maps to
`on_<EventClassName>(event)` methods looked up by event class name.

Bulk reconstruction (the Spark-first upgrade, SURVEY.md §1.2): besides the
point `load`, `fold_all` reconstructs EVERY aggregate in one distributed
pass on the store's per-stream fold kernel (`eventstore.store.fold_streams`).
"""

from __future__ import annotations

import uuid
from typing import Generic, Optional, Type, TypeVar

from cloudfabric_eventsourcing_spark.eventstore.event import Event
from cloudfabric_eventsourcing_spark.eventstore.store import EventStore, fold_streams
from cloudfabric_eventsourcing_spark.functions import hash_string_to_uuid


class AggregateBase:
    """Constructed by folding events in order; mutations happen via
    apply(event) -> on_<Type> handler + uncommitted buffer."""

    def __init__(self, events: Optional[list[Event]] = None):
        self._id: str = ""  # subclass handlers assign (protected-set in ref)
        self.version = 0
        self.uncommitted_events: list[Event] = []
        if events is not None:
            for event in events:
                if event is None:
                    raise ValueError("event is None")
                self._raise_event(event)
                self.version += 1

    # -- identity ----------------------------------------------------------
    @property
    def id(self) -> str:
        return self._id

    @property
    def partition_key(self) -> str:
        raise NotImplementedError

    #: natural-key hash algorithm — "xxh3" matches the reference
    #: bit-for-bit (r9 default); a deployment whose data was keyed by a
    #: pre-r9 version of THIS repo sets id_hash_algorithm = "sha256" on
    #: its aggregate classes (or passes algorithm=) so existing ids
    #: keep resolving instead of silently re-keying on upgrade
    id_hash_algorithm = "xxh3"

    @classmethod
    def hash_string_to_guid(cls, value: str, algorithm: str | None = None) -> str:
        """Natural-key -> deterministic uuid (AggregateBase.cs:70-80):
        XXH3-128 of the UTF-8 bytes with .NET Guid byte order, matching
        the reference bit-for-bit — see functions.hash_string_to_uuid
        for the validation scope.  `algorithm` (or the class attribute
        `id_hash_algorithm`) selects "sha256" for data keyed by pre-r9
        versions of this repo."""
        return str(
            hash_string_to_uuid(value, algorithm or cls.id_hash_algorithm)
        )

    # -- event plumbing ----------------------------------------------------
    def apply(self, event: Event) -> None:
        self._raise_event(event)
        event.aggregate_id = self.id
        event.partition_key = self.partition_key
        self.uncommitted_events.append(event)

    def _raise_event(self, event: Event) -> None:
        handler = getattr(self, f"on_{type(event).__name__}", None)
        if handler is None:
            raise AttributeError(
                f"{type(self).__name__} has no handler on_{type(event).__name__}"
            )
        handler(event)

    def on_changes_saved(self) -> None:
        self.version += len(self.uncommitted_events)
        self.uncommitted_events.clear()

    # -- snapshots (declared in the reference, dead code there —
    # PostgresqlEventStore.cs:562-576; implemented here) -------------------
    def snapshot_state(self) -> dict:
        """JSON-able view of the aggregate's domain fields.  The default
        walks __dict__ minus the fold plumbing, serializing values the
        same way event payloads serialize (datetime→iso, Decimal→str).
        Override together with restore_snapshot for aggregates whose
        handlers COMPUTE on typed fields (the default restore does not
        revive Decimal/datetime scalars)."""
        from cloudfabric_eventsourcing_spark.eventstore.event import _jsonable

        skip = {"version", "uncommitted_events"}
        return {
            k: _jsonable(v) for k, v in self.__dict__.items() if k not in skip
        }

    def restore_snapshot(self, state: dict) -> None:
        for k, v in state.items():
            setattr(self, k, v)


T = TypeVar("T", bound=AggregateBase)


class AggregateRepository(Generic[T]):
    def __init__(
        self,
        event_store: EventStore,
        aggregate_cls: Type[T],
        snapshot_store=None,
        snapshot_every: int = 100,
    ):
        self._store = event_store
        self._cls = aggregate_cls
        # registry for derived-type reconstruction (replaces the reference's
        # Type.GetType reflection on assembly-qualified names)
        self._derived: dict[str, Type[AggregateBase]] = {
            aggregate_cls.__name__: aggregate_cls
        }
        # optional JsonFileSnapshotStore: loads become snapshot + tail
        # fold, saves that cross a `snapshot_every` version boundary
        # refresh the snapshot (eventstore/snapshots.py)
        self._snapshots = snapshot_store
        self._snapshot_every = max(1, int(snapshot_every))

    def register_derived(self, cls: Type[AggregateBase]) -> None:
        self._derived[cls.__name__] = cls

    def load(self, id: str, partition_key: str) -> Optional[T]:
        if not id:
            raise ValueError("id")
        if self._snapshots is not None:
            snap = self._snapshots.load(partition_key, id)
            if snap is not None:
                # None here means the snapshot outlived its stream —
                # fall through to the store, which is authoritative
                obj = self._load_from_snapshot(snap, id, partition_key)
                if obj is not None:
                    return obj
        stream = self._store.load_stream(id, partition_key)
        if not stream.events:
            return None
        return self._construct(stream.events)

    def _load_from_snapshot(
        self, snap: dict, id: str, partition_key: str
    ) -> Optional[T]:
        """Snapshot + tail fold: O(events since snapshot), not O(stream).

        The tail is loaded FROM the snapshot's own version (one extra
        event) as a stream-existence witness: a snapshot outliving its
        hard-deleted stream must not resurrect the aggregate — an empty
        read at the snapshot version means the stream is gone and the
        load reports None/not-found, matching the no-snapshot paths."""
        snap_version = int(snap["version"])
        tail = self._store.load_stream(
            id, partition_key, from_version=snap_version
        )
        # stream versions are consecutive, so a live stream at version
        # >= snap_version returns the snapshot-version event first; an
        # empty read means the stream is gone (or the snapshot is ahead
        # of the store) — either way the store is authoritative
        if not tail.events:
            return None
        cls = self._derived.get(snap["aggregate_type"], self._cls)
        obj = cls.__new__(cls)
        AggregateBase.__init__(obj)
        obj.restore_snapshot(snap["state"])
        obj.version = snap_version
        for ev in tail.events[1:]:
            obj._raise_event(ev)
            obj.version += 1
        return obj  # type: ignore[return-value]

    def load_or_throw(self, id: str, partition_key: str) -> T:
        # route through load() so the snapshot fast path applies to both
        # public load entry points
        obj = self.load(id, partition_key)
        if obj is None:
            from cloudfabric_eventsourcing_spark.eventstore.event import (
                StreamNotFoundError,
            )

            raise StreamNotFoundError(f"stream {id!r} ({partition_key!r})")
        return obj

    def _construct(self, events: list[Event]) -> T:
        first = events[0]
        cls = self._derived.get(first.aggregate_type, self._cls)
        return cls(events)  # type: ignore[return-value]

    def save(self, user_info: dict, aggregate: T) -> bool:
        if not aggregate.uncommitted_events:
            return True
        for e in aggregate.uncommitted_events:
            e.aggregate_type = type(aggregate).__name__
        ok = self._store.append_to_stream(
            user_info,
            aggregate.id,
            aggregate.version,
            aggregate.uncommitted_events,
        )
        n_new = len(aggregate.uncommitted_events)
        aggregate.on_changes_saved()
        if (
            ok
            and self._snapshots is not None
            # the append crossed a snapshot_every version boundary
            and aggregate.version % self._snapshot_every < n_new
        ):
            self._snapshots.save(
                aggregate.partition_key,
                aggregate.id,
                aggregate.version,
                type(aggregate).__name__,
                aggregate.snapshot_state(),
            )
        return ok

    def hard_delete(self, id: str, partition_key: str) -> bool:
        if not id:
            raise ValueError("id")
        if self._snapshots is not None:
            # a lingering snapshot would resurrect the deleted aggregate
            self._snapshots.delete(partition_key, id)
        return self._store.hard_delete(id, partition_key)


def new_id() -> str:
    return str(uuid.uuid4())


def fold_all(
    events_df,
    aggregate_cls: Type[AggregateBase],
    to_row,
    output_schema,
    partition_key: Optional[str] = None,
):
    """Bulk aggregate reconstruction: fold EVERY stream of the event table
    in one distributed pass (SURVEY.md §1.2 — the Spark upgrade over the
    reference's per-id point loads).

    Runs on the store's per-stream fold kernel (`eventstore.store.
    fold_streams`): each (stream_id, partition_key) group is replayed in
    version order, each event once, through the aggregate's own
    on_<Event> handlers (the exact same code the point path runs), and
    emitted as one row via ``to_row(aggregate) -> dict``.

    Args:
        events_df: DataFrame with the event-store schema.
        aggregate_cls: the AggregateBase subclass to fold.
        to_row: aggregate -> dict matching output_schema.
        output_schema: DDL string or StructType for the result.
        partition_key: optional partition filter (pruning).
    """
    if partition_key is not None:
        from pyspark.sql import functions as F

        events_df = events_df.where(F.col("partition_key") == partition_key)
    return fold_streams(
        events_df, lambda events: [to_row(aggregate_cls(events))], output_schema
    )
