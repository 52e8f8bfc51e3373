"""Distributed projection rebuild — the T8 scale path.

Behavioral spec (reference, read-only): the rebuild worker replays the
whole event log through the builders serially with a timestamp cursor
(Worker/ProjectionsRebuildProcessor.cs:61-114, EventsObserver.cs:53-132).
That single cursor is the reference's scale ceiling; SURVEY.md §3.3 notes
a rebuild is embarrassingly parallel per stream: every projection document
is a fold of ONE stream's events, so streams can be replayed concurrently.

Spark mapping: groupBy(stream_id, partition_key) + applyInPandas. Each
group replays through a FRESH builder instance bound to a group-local
in-memory repository — the exact same handler code the serial path runs —
and emits the group's final documents as rows. One shuffle on stream_id
(uniform key), no driver funnel; the result DataFrame feeds the
repository's sink (`overwrite_from_df` for a rebuild, `merge_from_df` for
the live observer) so a 100 TB projection is written by executors in
parallel.

Applicability: sound whenever each document depends only on its own
stream's events (true of every reference builder — the builder helpers key
documents by aggregate_id). Builders that aggregate ACROSS streams must use
the serial paths: a rebuild processor given no SparkSession, and the
observer's `mode="parity"`.
"""

from __future__ import annotations

from typing import Callable, Type

import pyarrow as pa
from pyspark.sql import DataFrame

from cloudfabric_eventsourcing_spark.projections.repository import (
    InMemoryProjectionRepository,
    arrow_schema,
)
from cloudfabric_eventsourcing_spark.schema import ProjectionSchema


TOMBSTONE_COL = "__is_tombstone"


def fold_builder_documents(
    events_df: DataFrame,
    builder_factory: Callable,
    schema: ProjectionSchema,
    with_tombstones: bool = False,
) -> DataFrame:
    """Replay each stream through `builder_factory(local_repo)` and return
    the final documents as a DataFrame shaped by `schema`.

    `builder_factory` must return a ProjectionBuilder bound to the
    repository it is given (typically ``lambda repo: MyBuilder(repo,
    IndexSelector.ProjectionRebuild)``); it is cloudpickled to executors.

    With ``with_tombstones=True`` (the live-maintenance MERGE path) the
    result carries an extra boolean `__is_tombstone` column: a document the
    builder deleted and never re-created comes back as a key-only tombstone
    row, so the caller can propagate the delete to the real index.
    """
    from pyspark.sql import types as T

    struct = schema.to_struct_type()
    pa_schema = arrow_schema(schema)
    if with_tombstones:
        struct = T.StructType(
            struct.fields + [T.StructField(TOMBSTONE_COL, T.BooleanType())]
        )
        pa_schema = pa_schema.append(pa.field(TOMBSTONE_COL, pa.bool_()))
    key_name = schema.key_name

    def fold(pdf):
        import pandas as pd

        from cloudfabric_eventsourcing_spark.eventstore import (
            InMemoryMetadataRepository,
        )
        from cloudfabric_eventsourcing_spark.eventstore.event import EventRecord
        from cloudfabric_eventsourcing_spark.projections.engine import (
            ProjectionsEngine,
        )
        from cloudfabric_eventsourcing_spark.projections.repository import (
            _normalize_doc,
        )
        from cloudfabric_eventsourcing_spark.projections.state import (
            ProjectionIndexStateStore,
        )

        pdf = pdf.sort_values("stream_version")
        events = []
        for rec in pdf.itertuples(index=False):
            record = EventRecord(
                id=rec.id,
                partition_key=rec.partition_key,
                created_at=rec.created_at.to_pydatetime()
                if hasattr(rec.created_at, "to_pydatetime")
                else rec.created_at,
                stream_id=rec.stream_id,
                stream_version=int(rec.stream_version),
                event_type=rec.event_type,
                event_data=rec.event_data,
                user_info=rec.user_info,
            )
            events.append(record.to_event())

        local_state = ProjectionIndexStateStore(InMemoryMetadataRepository())
        local_repo = _TrackingInMemoryRepository(schema, local_state)
        engine = ProjectionsEngine()
        engine.add_projection_builder(builder_factory(local_repo))
        for event in events:
            engine.handle_event(event)

        docs = [
            _normalize_doc(d)
            for index in local_repo._indexes.values()
            for d in index.values()
        ]
        if with_tombstones:
            for d in docs:
                d[TOMBSTONE_COL] = False
            present = {
                (str(d.get(key_name)), d.get("PartitionKey")) for d in docs
            }
            key_prop = schema.property(key_name)
            for kid, kpk in local_repo.deleted_keys:
                if (str(kid), kpk) not in present:
                    docs.append(
                        {
                            key_name: _coerce_key(kid, key_prop),
                            "PartitionKey": kpk,
                            TOMBSTONE_COL: True,
                        }
                    )
        if not docs:
            return pd.DataFrame({f.name: [] for f in struct.fields})
        # round-trip through arrow with the schema-derived types so
        # decimals/timestamps/nested structs land exactly as the snapshot
        # writer expects them
        return pa.Table.from_pylist(docs, schema=pa_schema).to_pandas()

    return events_df.groupBy("stream_id", "partition_key").applyInPandas(
        fold, struct
    )


def _coerce_key(kid, key_prop):
    """Tombstone rows must carry the key in its NATIVE schema type —
    a stringified int key would fail the arrow round-trip for INT64-keyed
    projections. Deletes record the value as passed to `repo.delete`,
    which callers may pass as str; cast back through the schema."""
    from cloudfabric_eventsourcing_spark.schema import (
        BOOLEAN,
        DOUBLE,
        INT32,
        INT64,
        SINGLE,
    )

    if kid is None or key_prop is None:
        return kid
    t = key_prop.type
    if t in (INT32, INT64):
        return int(kid)
    if t in (SINGLE, DOUBLE):
        return float(kid)
    if t == BOOLEAN:
        return kid if isinstance(kid, bool) else str(kid).lower() == "true"
    return kid


class _TrackingInMemoryRepository(InMemoryProjectionRepository):
    """Group-local repository that also records hard deletes so the live
    MERGE path can emit tombstones.

    Index resolution is memoized: the group-local state machine never
    transitions after construction, and re-resolving (which re-hashes the
    schema) per document op dominated the per-event fold cost."""

    def __init__(self, schema, state_store):
        super().__init__(schema, state_store)
        self.deleted_keys: set[tuple[str, str]] = set()
        self._resolve_cache: dict = {}

    def _resolve(self, selector):
        hit = self._resolve_cache.get(selector)
        if hit is None:
            hit = self._resolve_cache[selector] = super()._resolve(selector)
        return hit

    def _delete(self, index_name, id, partition_key):
        super()._delete(index_name, id, partition_key)
        # keep the NATIVE key value — tombstone rows are typed by the
        # projection schema (a str'd INT64 key breaks the arrow build)
        self.deleted_keys.add((id, partition_key))


def builder_rebuild_factory(builder) -> Callable:
    """Factory replicating `builder` on executors: same class, same schema,
    ProjectionRebuild selector (builders may only use Write/Rebuild —
    ProjectionBuilder.cs:12-18)."""
    from cloudfabric_eventsourcing_spark.projections.state import IndexSelector

    builder_cls: Type = type(builder)
    return lambda repo: builder_cls(repo, IndexSelector.ProjectionRebuild)
