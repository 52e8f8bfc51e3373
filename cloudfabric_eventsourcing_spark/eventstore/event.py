"""Event model.

Behavioral spec (reference, read-only):
  - IEvent / Event record: CloudFabric.EventSourcing.EventStore/Event.cs:6-14
      (AggregateId, Timestamp UTC-now default, PartitionKey, AggregateType)
  - persisted EventWrapper: Persistence/EventWrapper.cs:6-53 (id, stream
      {id, version}, eventType, eventData JSON, userInfo JSON)
  - EventStream: EventStream.cs:3-21 (id, version = max, ordered events)
  - physical schema: PostgresqlEventStore.cs:510-526

Divergence (documented, SURVEY.md §7): the reference stores CLR
assembly-qualified type names in `event_type` and resolves them by
reflection (EventWrapper.cs:23-59). We store plain registered type names
and resolve through an explicit registry.
"""

from __future__ import annotations

import dataclasses
import datetime
import json
from typing import Any, Optional, Type

SCHEMA_VERSION = 1


class OptimisticConcurrencyError(RuntimeError):
    """Raised when expected stream version doesn't match the stored max —
    the reference's "Error saving events to the database - another thread
    or process appended events" (PostgresqlEventStore.cs:407-408)."""


class StreamNotFoundError(LookupError):
    """LoadStreamAsyncOrThrowNotFound counterpart."""


def _utc_now() -> datetime.datetime:
    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


@dataclasses.dataclass
class Event:
    """Base class for domain events. Subclass with extra payload fields and
    register with @register_event_type."""

    aggregate_id: str = ""
    partition_key: str = ""
    timestamp: datetime.datetime = dataclasses.field(default_factory=_utc_now)
    aggregate_type: str = ""

    @property
    def event_type(self) -> str:
        return type(self).__name__

    def payload_json(self) -> str:
        # shallow field walk + _jsonable recursion; dataclasses.asdict is
        # avoided because its deepcopy of every leaf dominated the append
        # hot path (values are immediately JSON-encoded, copies are waste)
        data = {f.name: getattr(self, f.name) for f in dataclasses.fields(self)}
        return json.dumps(_jsonable(data), sort_keys=True)


_REGISTRY: dict[str, Type[Event]] = {}


def register_event_type(cls: Type[Event]) -> Type[Event]:
    """Class decorator: make the event type deserializable by name."""
    _REGISTRY[cls.__name__] = cls
    return cls


def event_type_registry() -> dict[str, Type[Event]]:
    return dict(_REGISTRY)


def event_from_record(event_type: str, event_data: str) -> Event:
    cls = _REGISTRY.get(event_type)
    data = json.loads(event_data)
    if cls is None:
        # unknown type: hydrate as a base Event keeping only envelope fields
        base = {
            k: data.get(k)
            for k in ("aggregate_id", "partition_key", "aggregate_type")
            if k in data
        }
        ev = Event(**base)
        if "timestamp" in data and data["timestamp"]:
            ev.timestamp = datetime.datetime.fromisoformat(data["timestamp"])
        return ev
    kwargs = {}
    for f in dataclasses.fields(cls):
        if f.name in data:
            kwargs[f.name] = _revive(f.type, data[f.name])
    return cls(**kwargs)


def _jsonable(v: Any):
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    if dataclasses.is_dataclass(v) and not isinstance(v, type):
        return {
            f.name: _jsonable(getattr(v, f.name)) for f in dataclasses.fields(v)
        }
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    import decimal

    if isinstance(v, decimal.Decimal):
        return str(v)
    return v


def _revive(annotation, v):
    # best-effort revival for common field types; nested dataclasses keep
    # dict form (schema-on-read, matching the reference's late binding)
    if v is None:
        return None
    ann = str(annotation)
    if "datetime" in ann and isinstance(v, str):
        try:
            return datetime.datetime.fromisoformat(v)
        except ValueError:
            return v
    if "Decimal" in ann and isinstance(v, str):
        import decimal

        try:
            return decimal.Decimal(v)
        except decimal.InvalidOperation:
            return v
    return v


@dataclasses.dataclass
class EventRecord:
    """Persisted row shape (PostgresqlEventStore.cs:510-526 ↔ FIXTURES.md
    §1): store reads, the fold kernel and the parity observer all turn a
    row into an Event as ``EventRecord(**row).to_event()``."""

    id: str
    partition_key: str
    created_at: datetime.datetime
    stream_id: str
    stream_version: int
    event_type: str
    event_data: str
    user_info: str
    eventstore_schema_version: int = SCHEMA_VERSION

    def to_event(self) -> Event:
        ev = event_from_record(self.event_type, self.event_data)
        ev.aggregate_id = ev.aggregate_id or self.stream_id
        ev.partition_key = ev.partition_key or self.partition_key
        # envelope identity for exact replay dedup (not a dataclass field —
        # payload JSON stays free of storage concerns)
        ev._record_id = self.id  # type: ignore[attr-defined]
        ev._stream_version = self.stream_version  # type: ignore[attr-defined]
        return ev


@dataclasses.dataclass
class EventStream:
    """EventStream.cs:3-21: id + max version + ordered events."""

    id: str
    version: int
    events: list[Event]


@dataclasses.dataclass
class EventStoreStatistics:
    """EventStoreStatistics.cs:3-8."""

    total_events_count: int = 0
    first_event_created_at: Optional[datetime.datetime] = None
    last_event_created_at: Optional[datetime.datetime] = None
