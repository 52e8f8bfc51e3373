"""Projections engine: dispatch, replay, rebuild orchestration.

Behavioral spec (reference, read-only):
  - dispatch + synthetic AggregateUpdatedEvent: CloudFabric.Projections/
    ProjectionsEngine.cs:111-164
  - chunked replay with timestamp cursor + progress callback:
    EventsObserver.ReplayEventsAsync — EventsObserver.cs:53-132
    (chunk default 250 — :57)
  - single-document replay: EventsObserver.cs:27-35, ProjectionsEngine.cs:89-97
  - rebuild worker: Worker/ProjectionsRebuildProcessor.cs:28-114
    (acquire lease -> count events -> replay -> per-chunk progress/health ->
    mark completed)

Replay-cursor fix (SURVEY.md T3): the reference advances a strict
`created_at > cursor` timestamp cursor, which skips events sharing the
boundary timestamp. This engine additionally tracks the event ids seen AT
the cursor timestamp and re-reads from >= boundary, making replay exact
under timestamp collisions (documented improvement).
"""

from __future__ import annotations

import datetime
from typing import Callable, Optional

from cloudfabric_eventsourcing_spark.eventstore.event import Event
from cloudfabric_eventsourcing_spark.eventstore.store import EventStore
from cloudfabric_eventsourcing_spark.projections.builder import (
    AggregateUpdatedEvent,
    ProjectionBuilder,
)
from cloudfabric_eventsourcing_spark.projections.state import ProjectionIndexStateStore

ProgressCallback = Callable[[int, Event], None]


class ProjectionsEngine:
    def __init__(self, event_store: Optional[EventStore] = None):
        self._builders: list[ProjectionBuilder] = []
        self._store = event_store
        self._started = False

    def add_projection_builder(self, builder: ProjectionBuilder) -> None:
        self._builders.append(builder)

    # -- live path (S4): subscribe to the store's in-process push -----------
    def start(self) -> None:
        if self._store is None:
            raise RuntimeError("engine has no event store")
        if not self._started:
            self._store.subscribe(self.handle_event)
            self._started = True

    # -- dispatch (ProjectionsEngine.cs:111-164) ----------------------------
    def handle_event(self, event: Event) -> None:
        event_type = type(event).__name__
        handled_by = []
        for b in self._builders:
            if event_type in b.handled_event_types:
                b.apply_event(event)
                handled_by.append(b)
        # synthetic AggregateUpdated for builders that subscribe to it but
        # not to the concrete event (T7)
        synthetic: Optional[AggregateUpdatedEvent] = None
        for b in self._builders:
            if b in handled_by:
                continue
            if "AggregateUpdated" not in b.handled_event_types:
                continue
            if b.aggregate_types and event.aggregate_type not in b.aggregate_types:
                continue
            if synthetic is None:
                synthetic = AggregateUpdatedEvent(
                    aggregate_id=event.aggregate_id,
                    partition_key=event.partition_key,
                    aggregate_type=event.aggregate_type,
                    updated_at=event.timestamp,
                )
            b.on_AggregateUpdated(synthetic)  # type: ignore[attr-defined]

    # -- replay (S5) --------------------------------------------------------
    def replay_events(
        self,
        partition_key: Optional[str] = None,
        date_from: Optional[datetime.datetime] = None,
        chunk_size: int = 250,
        chunk_processed_callback: Optional[ProgressCallback] = None,
    ) -> int:
        if self._store is None:
            raise RuntimeError("engine has no event store")
        total = 0
        cursor = date_from
        seen_at_cursor: set[tuple[str, int]] = set()
        while True:
            # re-read from one µs before the cursor so boundary-timestamp
            # events are not skipped; dedup via (stream_id, version)
            read_from = (
                cursor - datetime.timedelta(microseconds=1)
                if cursor is not None
                else None
            )
            # widen the window by the boundary events we'll re-read, so the
            # limit can't starve on many events sharing one timestamp
            window = chunk_size + len(seen_at_cursor)
            chunk = self._store.load_events(partition_key, read_from, window)
            fresh = [
                e
                for e in chunk
                if not (
                    e.timestamp == cursor
                    and (e.aggregate_id, _event_key(e)) in seen_at_cursor
                )
            ]
            if not fresh:
                break
            for event in fresh:
                self.handle_event(event)
                total += 1
            last_ts = fresh[-1].timestamp
            if cursor != last_ts:
                seen_at_cursor = set()
            cursor = last_ts
            seen_at_cursor.update(
                (e.aggregate_id, _event_key(e))
                for e in fresh
                if e.timestamp == cursor
            )
            if chunk_processed_callback is not None:
                chunk_processed_callback(total, fresh[-1])
            if len(chunk) < window:
                break
        return total

    # -- single-document rebuild (S6) ---------------------------------------
    def rebuild_one(self, document_id: str, partition_key: str) -> None:
        if self._store is None:
            raise RuntimeError("engine has no event store")
        stream = self._store.load_stream(document_id, partition_key)
        for event in stream.events:
            self.handle_event(event)


def _event_key(e: Event):
    # record id attached by the store at hydration; fall back to the
    # (type, ts, aggregate) triple for events that never hit storage
    rid = getattr(e, "_record_id", None)
    return rid if rid is not None else (e.event_type, e.timestamp, e.aggregate_id)


class ProjectionsRebuildProcessor:
    """Worker/ProjectionsRebuildProcessor.cs:28-114 on the state store.

    The SparkSession selects the path:
      - **distributed** (given a SparkSession): each builder's documents
        are recomputed with the store's per-stream fold kernel over the
        whole event table and handed to the repository's
        `overwrite_from_df`, whatever the backend — the SURVEY §3.3 scale
        path. Progress/health is updated per event batch (streams are
        split into `rebuild_batches` hash buckets; each bucket is one
        Spark job).
      - **serial** (no SparkSession): the reference's chunked
        single-cursor replay loop, kept as the parity path and for
        builders whose documents aggregate across streams.
    """

    def __init__(
        self,
        state_store: ProjectionIndexStateStore,
        engine_factory: Callable[[str], ProjectionsEngine],
        event_store: EventStore,
        chunk_size: int = 250,
        spark=None,
        rebuild_batches: int = 4,
    ):
        self.state_store = state_store
        self.engine_factory = engine_factory
        self.event_store = event_store
        self.chunk_size = chunk_size
        self.spark = spark
        self.rebuild_batches = max(1, rebuild_batches)

    def rebuild_one_projection_which_requires_rebuild(self) -> Optional[str]:
        state, index_name = self.state_store.acquire_and_lock_rebuild()
        if state is None:
            return None
        engine = self.engine_factory(index_name)
        if self.spark is not None:
            processed = self._replay_distributed(engine, state, index_name)
        else:
            processed = self._replay_serial(engine, state, index_name)
        self.state_store.update_rebuild_progress(
            state.projection_name, index_name, processed, completed=True
        )
        return index_name

    # -- serial parity path (the reference's cursor loop) -------------------
    def _replay_serial(self, engine, state, index_name) -> int:
        total = self.event_store.get_statistics().total_events_count

        def progress(processed: int, last_event: Event) -> None:
            self.state_store.update_rebuild_progress(
                state.projection_name,
                index_name,
                processed,
                last_ts=last_event.timestamp,
                total=total,
            )

        return engine.replay_events(
            partition_key=None,
            date_from=None,
            chunk_size=self.chunk_size,
            chunk_processed_callback=progress,
        )

    # -- distributed scale path ---------------------------------------------
    def _replay_distributed(self, engine, state, index_name) -> int:
        from pyspark.sql import functions as F

        from cloudfabric_eventsourcing_spark.projections.distributed import (
            fold_builder_documents,
        )

        total = self.event_store.get_statistics().total_events_count
        events_df = self.event_store.to_df(self.spark)
        n_batches = self.rebuild_batches
        processed = 0
        per_builder_parts: list[list] = [[] for _ in engine._builders]
        for b in range(n_batches):
            part = (
                events_df.where(
                    F.pmod(F.abs(F.xxhash64("stream_id")), F.lit(n_batches)) == b
                )
                if n_batches > 1
                else events_df
            )
            for i, builder in enumerate(engine._builders):
                docs = fold_builder_documents(part, builder).persist()
                docs.count()  # materialize: progress reflects finished work
                per_builder_parts[i].append(docs)
            stats = part.agg(
                F.count(F.lit(1)).alias("n"), F.max("created_at").alias("ts")
            ).first()
            processed += int(stats["n"])
            self.state_store.update_rebuild_progress(
                state.projection_name,
                index_name,
                processed,
                last_ts=stats["ts"],
                total=total,
            )
        for builder, parts in zip(engine._builders, per_builder_parts):
            docs = parts[0]
            for extra in parts[1:]:
                docs = docs.unionByName(extra)
            builder.repository.overwrite_from_df(docs)
            for p in parts:
                p.unpersist()
        return processed

    def rebuild_projections_that_require_rebuild(
        self, max_parallel_tasks: int = 1
    ) -> list[str]:
        """Drain every pending rebuild; with ``max_parallel_tasks > 1``,
        mirror the reference worker's wave shape
        (Worker/ProjectionsRebuildProcessor.cs:28-59, default
        maxParallelTasks=4 there): acquire up to N leases, run those
        rebuilds concurrently, await the wave, repeat until nothing is
        pending.  Lease acquisition is the state store's CAS, so
        concurrent threads (or a second worker process) can never
        double-acquire one index; Spark accepts job submission from
        multiple threads, so distributed waves genuinely overlap.
        The default stays serial — parallel draining is the long-queue
        worker deployment's knob, not a local-test default."""
        done: list[str] = []
        if max_parallel_tasks <= 1:
            while True:
                name = self.rebuild_one_projection_which_requires_rebuild()
                if name is None:
                    return done
                done.append(name)
        import concurrent.futures

        with concurrent.futures.ThreadPoolExecutor(
            max_workers=max_parallel_tasks
        ) as pool:
            while True:
                # one wave: the reference acquires serially (each CAS
                # marks the row leased, so the next acquire sees fresh
                # state) then awaits the batch
                futures = [
                    pool.submit(self.rebuild_one_projection_which_requires_rebuild)
                    for _ in range(max_parallel_tasks)
                ]
                wave = [f.result() for f in futures]  # re-raises failures
                done.extend(n for n in wave if n is not None)
                if any(n is None for n in wave):
                    # at least one worker found the queue empty — but a
                    # rebuild finishing mid-wave may have been re-flagged;
                    # the reference recurses until a FULL empty pass
                    if all(n is None for n in wave):
                        return done
