"""Projection builders: user event-handler classes maintaining documents.

Behavioral spec (reference, read-only):
  - CloudFabric.Projections/ProjectionBuilder.cs: handled-event discovery by
    IHandleEvent<> reflection (:20-31), dynamic dispatch ApplyEvent (:40-51),
    helpers UpsertDocument/UpdateDocument/UpdateDocuments/DeleteDocument/
    SetDocumentUpdatedAt (:53-166); builders may only use Write or
    ProjectionRebuild selectors (:12-18)
  - synthetic AggregateUpdatedEvent<T>: ProjectionEvents/AggregateUpdatedEvent.cs:10-23

Python mapping: a builder declares `on_<EventTypeName>(self, event)` methods;
handled types are discovered from method names (the reflection counterpart).
A builder that defines `on_AggregateUpdated` receives the synthetic event
for aggregate types listed in `aggregate_types` when it does not handle the
concrete event type (T7).
"""

from __future__ import annotations

import dataclasses
import datetime
import functools
from typing import Callable, Optional

from cloudfabric_eventsourcing_spark.eventstore.event import Event
from cloudfabric_eventsourcing_spark.projections.repository import ProjectionRepository
from cloudfabric_eventsourcing_spark.projections.state import IndexSelector
from cloudfabric_eventsourcing_spark.queries.projection_query import ProjectionQuery


@functools.cache
def _handled_event_types(cls: type) -> frozenset[str]:
    """The event types a builder class has `on_<EventType>` handlers for,
    walked once per class: dispatch reads them for every event."""
    return frozenset(
        name[3:]
        for name in dir(cls)
        if name.startswith("on_") and callable(getattr(cls, name))
    )


@dataclasses.dataclass
class AggregateUpdatedEvent(Event):
    """Synthetic 'something changed' event (AggregateUpdatedEvent.cs:10-23);
    carries the source event's timestamp as updated_at."""

    updated_at: Optional[datetime.datetime] = None


class ProjectionBuilder:
    """Subclass with on_<EventType> methods and a `schema` attribute."""

    #: aggregate type names whose synthetic AggregateUpdated events this
    #: builder wants (empty = all) — only used if on_AggregateUpdated exists
    aggregate_types: tuple[str, ...] = ()

    def __init__(
        self,
        repository: ProjectionRepository,
        index_selector: str = IndexSelector.Write,
    ):
        if index_selector not in (IndexSelector.Write, IndexSelector.ProjectionRebuild):
            raise ValueError(
                "projection builders may only use Write or ProjectionRebuild "
                "index selectors (ProjectionBuilder.cs:12-18)"
            )
        self.repository = repository
        self.index_selector = index_selector
        self.schema = repository.schema

    # -- dispatch -----------------------------------------------------------
    @property
    def handled_event_types(self) -> frozenset[str]:
        return _handled_event_types(type(self))

    def apply_event(self, event: Event) -> None:
        handler = getattr(self, f"on_{type(event).__name__}", None)
        if handler is not None:
            handler(event)

    def apply_events(self, events: list[Event]) -> None:
        for e in events:
            self.apply_event(e)

    # -- document helpers (ProjectionBuilder.cs:53-166) ---------------------
    def upsert_document(
        self, document: dict, partition_key: str, updated_at: datetime.datetime
    ) -> None:
        self.repository.upsert(
            document, partition_key, updated_at, selector=self.index_selector
        )

    def update_document(
        self,
        id: str,
        partition_key: str,
        updated_at: datetime.datetime,
        callback: Callable[[dict], None],
        document_not_found: Optional[Callable[[], None]] = None,
    ) -> None:
        document = self.repository.single(
            id, partition_key, selector=self.index_selector
        )
        if document is None:
            if document_not_found is not None:
                document_not_found()
            return
        callback(document)
        self.repository.upsert(
            document, partition_key, updated_at, selector=self.index_selector
        )

    def update_documents(
        self,
        query: ProjectionQuery,
        partition_key: str,
        updated_at: datetime.datetime,
        callback: Callable[[dict], None],
    ) -> None:
        result = self.repository.query(
            query, partition_key, selector=self.index_selector
        )
        updated = []
        for record in result.records:
            callback(record.document)
            updated.append(record.document)
        if updated:
            self.repository.upsert_batch(
                updated, partition_key, updated_at, selector=self.index_selector
            )

    def update_documents_expr(
        self,
        query: ProjectionQuery,
        set_columns: dict,
        partition_key: str,
        updated_at: Optional[datetime.datetime] = None,
    ) -> None:
        """Scale variant of update_documents for mutations expressible as
        Column expressions: one distributed UPDATE..WHERE, no documents
        through the driver. Spark-backed repositories only — the callback
        form remains for arbitrary Python and driver-memory backends."""
        repo = self.repository
        if not hasattr(repo, "update_documents_expr"):
            raise TypeError(
                f"{type(repo).__name__} has no declarative bulk-update path; "
                "use update_documents(query, partition_key, updated_at, callback)"
            )
        repo.update_documents_expr(
            query,
            set_columns,
            partition_key=partition_key,
            updated_at=updated_at,
            selector=self.index_selector,
        )

    def delete_document(self, id: str, partition_key: str) -> None:
        self.repository.delete(id, partition_key, selector=self.index_selector)

    def set_document_updated_at(
        self, id: str, partition_key: str, updated_at: datetime.datetime
    ) -> None:
        self.update_document(id, partition_key, updated_at, lambda d: None)
