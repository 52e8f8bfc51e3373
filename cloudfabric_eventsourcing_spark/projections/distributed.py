"""Distributed projection rebuild — the T8 scale path.

Behavioral spec (reference, read-only): the rebuild worker replays the
whole event log through the builders serially with a timestamp cursor
(Worker/ProjectionsRebuildProcessor.cs:61-114, EventsObserver.cs:53-132).
That single cursor is the reference's scale ceiling; SURVEY.md §3.3 notes
a rebuild is embarrassingly parallel per stream: every projection document
is a fold of ONE stream's events, so streams can be replayed concurrently.

Spark mapping: the store's per-stream fold kernel
(`eventstore.store.fold_streams`, one groupBy(stream_id, partition_key) +
applyInArrow). Each group replays, in version order and each event once,
through a FRESH builder instance bound to a group-local in-memory
repository — the exact same handler code the serial path runs — and
emits the group's final documents as rows. One shuffle on stream_id
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

from cloudfabric_eventsourcing_spark.eventstore.store import fold_streams
from cloudfabric_eventsourcing_spark.projections.repository import (
    InMemoryProjectionRepository,
)


TOMBSTONE_COL = "__is_tombstone"


def fold_builder_documents(
    events_df, builder, with_tombstones: bool = False, events_folded=None
):
    """Replay each stream through a copy of `builder` and return the final
    documents as a DataFrame shaped by the builder's repository schema.

    Executors rebuild the builder as ``type(builder)(local_repo,
    IndexSelector.ProjectionRebuild)`` (builders may only use Write/Rebuild
    — ProjectionBuilder.cs:12-18); only the class and the schema are
    cloudpickled, never the builder's own repository.

    With ``with_tombstones=True`` (the live-maintenance MERGE path) the
    result carries an extra boolean `__is_tombstone` column: a document the
    builder deleted and never re-created comes back as a key-only tombstone
    row, so the caller can propagate the delete to the real index.

    ``events_folded``, set only by the rebuild for its progress, is a
    Spark accumulator that each stream adds its event count to.
    """
    from pyspark.sql import types as T

    builder_cls = type(builder)
    schema = builder.repository.schema
    struct = schema.to_struct_type()
    if with_tombstones:
        struct = T.StructType(
            struct.fields + [T.StructField(TOMBSTONE_COL, T.BooleanType())]
        )
    key_name = schema.key_name

    def fold(events):
        from cloudfabric_eventsourcing_spark.eventstore import (
            InMemoryMetadataRepository,
        )
        from cloudfabric_eventsourcing_spark.projections.engine import (
            ProjectionsEngine,
        )
        from cloudfabric_eventsourcing_spark.projections.repository import (
            _normalize_doc,
        )
        from cloudfabric_eventsourcing_spark.projections.state import (
            IndexSelector,
            ProjectionIndexStateStore,
        )

        local_state = ProjectionIndexStateStore(InMemoryMetadataRepository())
        local_repo = _TrackingInMemoryRepository(schema, local_state)
        engine = ProjectionsEngine()
        engine.add_projection_builder(
            builder_cls(local_repo, IndexSelector.ProjectionRebuild)
        )
        for event in events:
            engine.handle_event(event)
        if events_folded is not None:
            events_folded.add(len(events))

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
        return docs

    return fold_streams(events_df, fold, struct)


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
