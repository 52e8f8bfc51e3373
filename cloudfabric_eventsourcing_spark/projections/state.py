"""Projection index state: schema-hash blue/green tables + rebuild leases.

Behavioral spec (reference, read-only):
  - state shapes: CloudFabric.Projections/ProjectionIndexState.cs:3-76
  - index resolution precedence (ReadOnly / Write / ProjectionRebuild):
      ProjectionRepository.cs:252-373
      * exact schema-hash status row is created on first sight
      * ProjectionRebuild selector -> always the exact-hash index
      * else prefer the most recent index with RebuildCompletedAt != null
      * else ReadOnly may fall back to the most recently started rebuild,
        then the most recently created index
      * else IndexNotReady (writes to a not-yet-rebuilt index are forbidden
        to preserve event-order consistency, :306-337)
  - rebuild lease: AcquireAndLockProjectionThatRequiresRebuild
      (ProjectionRepository.cs:375-442): eligible when RebuildStartedAt is
      null OR (not completed AND health check older than 5 min); optimistic
      lock via compare-on-UpdatedAt write-then-read.
"""

from __future__ import annotations

import dataclasses
import datetime
import json
import logging
import threading
from typing import Optional

from cloudfabric_eventsourcing_spark.schema import ProjectionSchema

REBUILD_HEALTH_CHECK_STALE = datetime.timedelta(minutes=5)

log = logging.getLogger(__name__)


class IndexNotReadyError(RuntimeError):
    pass


class IndexSelector:
    ReadOnly = "read-only"
    Write = "write"
    ProjectionRebuild = "projection-rebuild"


def _utcnow() -> datetime.datetime:
    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


@dataclasses.dataclass
class IndexStateForSchemaVersion:
    """ProjectionIndexState.cs:44-76."""

    created_at: datetime.datetime
    schema_hash: str
    schema_json: str
    index_name: str
    rebuild_events_processed: int = 0
    total_events_to_process: int = 0
    rebuild_started_at: Optional[datetime.datetime] = None
    rebuild_completed_at: Optional[datetime.datetime] = None
    rebuild_health_check_at: Optional[datetime.datetime] = None
    last_processed_event_timestamp: Optional[datetime.datetime] = None

    def to_dict(self) -> dict:
        return {k: _iso(v) for k, v in dataclasses.asdict(self).items()}

    @staticmethod
    def from_dict(d: dict) -> "IndexStateForSchemaVersion":
        kwargs = dict(d)
        # rows leased before every metadata repository had a CAS carry
        # an owner nonce; the CAS lease needs none
        kwargs.pop("rebuild_owner_nonce", None)
        for k in (
            "created_at",
            "rebuild_started_at",
            "rebuild_completed_at",
            "rebuild_health_check_at",
            "last_processed_event_timestamp",
        ):
            kwargs[k] = _unaiso(kwargs.get(k))
        return IndexStateForSchemaVersion(**kwargs)


@dataclasses.dataclass
class ProjectionIndexState:
    """ProjectionIndexState.cs:3-42."""

    projection_name: str
    updated_at: Optional[datetime.datetime] = None
    indexes_statuses: list[IndexStateForSchemaVersion] = dataclasses.field(
        default_factory=list
    )

    def to_dict(self) -> dict:
        return {
            "projection_name": self.projection_name,
            "updated_at": _iso(self.updated_at),
            "indexes_statuses": [s.to_dict() for s in self.indexes_statuses],
        }

    @staticmethod
    def from_dict(d: dict) -> "ProjectionIndexState":
        return ProjectionIndexState(
            d["projection_name"],
            _unaiso(d.get("updated_at")),
            [IndexStateForSchemaVersion.from_dict(s) for s in d["indexes_statuses"]],
        )


def _iso(v):
    return v.isoformat() if isinstance(v, datetime.datetime) else v


def _unaiso(v):
    return datetime.datetime.fromisoformat(v) if isinstance(v, str) else v


class ProjectionIndexStateStore:
    """State rows on a metadata repository (the `projection_index_state`
    table of SURVEY.md T8/T9)."""

    PARTITION = "projection_index_state"

    def __init__(self, metadata_repo):
        for method in ("compare_and_upsert", "list_ids"):
            if not callable(getattr(metadata_repo, method, None)):
                raise TypeError(
                    f"{type(metadata_repo).__name__} has no {method}: rebuild "
                    "leases need a compare-and-swap and the projections' names"
                )
        self._repo = metadata_repo
        self._lock = threading.Lock()

    def get(self, projection_name: str) -> Optional[ProjectionIndexState]:
        raw = self._repo.load_item(projection_name, self.PARTITION)
        return ProjectionIndexState.from_dict(raw) if raw else None

    def save(self, state: ProjectionIndexState) -> None:
        self._repo.upsert_item(state.projection_name, self.PARTITION, state.to_dict())

    def list_names(self) -> list[str]:
        return self._repo.list_ids(self.PARTITION)

    # -- index resolution (ProjectionRepository.cs:252-373) -----------------
    def resolve_index(
        self, schema: ProjectionSchema, selector: str
    ) -> tuple[str, ProjectionSchema]:
        with self._lock:
            schema_hash = schema.properties_hash()
            exact_name = schema.index_name()
            state = self.get(schema.schema_name)
            if state is None:
                status = _new_status(schema, schema_hash, exact_name)
                state = ProjectionIndexState(
                    projection_name=schema.schema_name,
                    indexes_statuses=[status],
                )
                self.save(state)
                return exact_name, schema

            if not any(s.schema_hash == schema_hash for s in state.indexes_statuses):
                state.indexes_statuses.append(
                    _new_status(schema, schema_hash, exact_name)
                )
                self.save(state)

            if selector == IndexSelector.ProjectionRebuild:
                return exact_name, schema

            completed = [
                s for s in state.indexes_statuses if s.rebuild_completed_at is not None
            ]
            if completed:
                best = max(completed, key=lambda s: s.rebuild_completed_at)
                return best.index_name, _schema_from_json(best.schema_json)

            if selector == IndexSelector.ReadOnly:
                started = [
                    s
                    for s in state.indexes_statuses
                    if s.rebuild_started_at is not None
                ]
                if started:
                    best = max(started, key=lambda s: s.rebuild_started_at)
                    return best.index_name, _schema_from_json(best.schema_json)
                best = max(state.indexes_statuses, key=lambda s: s.created_at)
                return best.index_name, _schema_from_json(best.schema_json)

            raise IndexNotReadyError(
                f"projection {schema.schema_name!r}: no index has completed "
                "rebuild; writing would break event-order consistency"
            )

    # -- rebuild lease (ProjectionRepository.cs:375-442) --------------------
    def acquire_and_lock_rebuild(
        self,
    ) -> tuple[Optional[ProjectionIndexState], Optional[str]]:
        threshold = _utcnow() - REBUILD_HEALTH_CHECK_STALE

        def eligible(s: IndexStateForSchemaVersion) -> bool:
            return s.rebuild_completed_at is None and (
                s.rebuild_started_at is None
                or (s.rebuild_health_check_at or datetime.datetime.min) < threshold
            )

        for name in self.list_names():
            raw_before = self._repo.load_item(name, self.PARTITION)
            state = ProjectionIndexState.from_dict(raw_before) if raw_before else None
            if state is None or not any(eligible(s) for s in state.indexes_statuses):
                continue
            started = _utcnow()
            state.updated_at = started
            index = min(
                (s for s in state.indexes_statuses if eligible(s)),
                key=lambda s: s.created_at,
            )
            taken_over = index.rebuild_started_at is not None
            stale_check = index.rebuild_health_check_at
            index.rebuild_started_at = started
            index.rebuild_health_check_at = started
            index.rebuild_completed_at = None
            # true compare-and-swap (the reference's conditional UPDATE,
            # :425-441): the lease write succeeds only if nobody changed
            # the row since our read — two parallel worker processes can
            # never both acquire the same index
            if self._repo.compare_and_upsert(
                state.projection_name, self.PARTITION, state.to_dict(), raw_before
            ):
                if taken_over:
                    log.warning(
                        "projection %s: taking over the rebuild of index %s "
                        "from a stale worker (last health check %s)",
                        state.projection_name, index.index_name, stale_check,
                    )
                return state, index.index_name
        return None, None

    def update_rebuild_progress(
        self,
        projection_name: str,
        index_name: str,
        events_processed: int,
        last_ts: Optional[datetime.datetime] = None,
        total: Optional[int] = None,
        completed: bool = False,
    ) -> None:
        with self._lock:
            # CAS-with-retry: a progress heartbeat must never clobber a
            # CONCURRENT change to the same row (another worker process
            # leasing a sibling index status of this projection) — re-read
            # and re-apply on conflict instead of blind-saving stale state
            for _ in range(16):
                raw = self._repo.load_item(projection_name, self.PARTITION)
                if raw is None:
                    return
                state = ProjectionIndexState.from_dict(raw)
                for s in state.indexes_statuses:
                    if s.index_name == index_name:
                        s.rebuild_events_processed = events_processed
                        s.rebuild_health_check_at = _utcnow()
                        if last_ts is not None:
                            s.last_processed_event_timestamp = last_ts
                        if total is not None:
                            s.total_events_to_process = total
                        if completed:
                            s.rebuild_completed_at = _utcnow()
                if self._repo.compare_and_upsert(
                    projection_name, self.PARTITION, state.to_dict(), raw
                ):
                    return
            raise RuntimeError(
                f"update_rebuild_progress({projection_name}): row contended "
                "past 16 CAS retries"
            )


def _new_status(
    schema: ProjectionSchema, schema_hash: str, index_name: str
) -> IndexStateForSchemaVersion:
    return IndexStateForSchemaVersion(
        created_at=_utcnow(),
        schema_hash=schema_hash,
        schema_json=_schema_to_json(schema),
        index_name=index_name,
        rebuild_health_check_at=_utcnow(),
    )


def _schema_to_json(schema: ProjectionSchema) -> str:
    def prop(p):
        return {
            "name": p.name,
            "type": p.type,
            "is_key": p.is_key,
            "is_searchable": p.is_searchable,
            "is_filterable": p.is_filterable,
            "is_sortable": p.is_sortable,
            "is_facetable": p.is_facetable,
            "array_element_type": p.array_element_type,
            "nested_properties": [prop(n) for n in p.nested_properties],
        }

    return json.dumps(
        {"schema_name": schema.schema_name, "properties": [prop(p) for p in schema.properties]}
    )


def _schema_from_json(raw: str) -> ProjectionSchema:
    from cloudfabric_eventsourcing_spark.schema import PropertySchema

    def prop(d):
        return PropertySchema(
            d["name"],
            d["type"],
            is_key=d.get("is_key", False),
            is_searchable=d.get("is_searchable", False),
            is_filterable=d.get("is_filterable", False),
            is_sortable=d.get("is_sortable", False),
            is_facetable=d.get("is_facetable", False),
            array_element_type=d.get("array_element_type"),
            nested_properties=[prop(n) for n in d.get("nested_properties", [])],
        )

    data = json.loads(raw)
    return ProjectionSchema(data["schema_name"], [prop(p) for p in data["properties"]])
