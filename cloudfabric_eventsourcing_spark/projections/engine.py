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

import contextlib
import datetime
import threading
from typing import Callable, Optional

from cloudfabric_eventsourcing_spark.eventstore.event import Event
from cloudfabric_eventsourcing_spark.eventstore.store import EventStore
from cloudfabric_eventsourcing_spark.projections.builder import (
    AggregateUpdatedEvent,
    ProjectionBuilder,
)
from cloudfabric_eventsourcing_spark.projections import state as state_module
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
        path, one fold job per builder. While it runs, a driver thread
        writes progress (events folded so far, from a Spark accumulator)
        and the health check every `REBUILD_HEALTH_CHECK_STALE / 5`, so
        the lease cannot lapse mid-job.
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
    ):
        self.state_store = state_store
        self.engine_factory = engine_factory
        self.event_store = event_store
        self.chunk_size = chunk_size
        self.spark = spark

    def rebuild_one_projection_which_requires_rebuild(self) -> Optional[str]:
        state, index_name = self.state_store.acquire_and_lock_rebuild()
        if state is None:
            return None
        engine = self.engine_factory(index_name)
        stats = self.event_store.get_statistics()

        def progress(processed: int, last_ts=None, completed=False) -> None:
            self.state_store.update_rebuild_progress(
                state.projection_name,
                index_name,
                processed,
                last_ts=last_ts,
                total=stats.total_events_count,
                completed=completed,
            )

        if self.spark is None:
            progress(self._replay_serial(engine, progress), completed=True)
        else:
            self._replay_distributed(engine, index_name, stats, progress)
            last_ts = stats.last_event_created_at
            progress(stats.total_events_count, last_ts, completed=True)
        return index_name

    # -- serial parity path (the reference's cursor loop) -------------------
    def _replay_serial(self, engine, progress) -> int:
        return engine.replay_events(
            chunk_size=self.chunk_size,
            chunk_processed_callback=lambda n, last: progress(n, last.timestamp),
        )

    # -- distributed scale path ---------------------------------------------
    def _replay_distributed(self, engine, index_name, stats, progress) -> None:
        from cloudfabric_eventsourcing_spark.projections.distributed import (
            fold_builder_documents,
        )
        from cloudfabric_eventsourcing_spark.session import job_description

        folded = self.spark.sparkContext.accumulator(0)
        n_builders = max(1, len(engine._builders))

        def beat() -> None:
            progress(min(folded.value // n_builders, stats.total_events_count))

        with job_description(self.spark, f"projection rebuild: {index_name}"):
            with _heartbeat(beat):
                events_df = self.event_store.to_df(self.spark)
                for builder in engine._builders:
                    docs = fold_builder_documents(
                        events_df, builder, events_folded=folded
                    )
                    builder.repository.overwrite_from_df(docs)

    def rebuild_projections_that_require_rebuild(
        self, max_parallel_tasks: int = 1
    ) -> list[str]:
        """Drain every pending rebuild in waves, the reference worker's
        shape (Worker/ProjectionsRebuildProcessor.cs:28-59, default
        maxParallelTasks=4 there): start ``max_parallel_tasks`` rebuilds
        at once, await the wave, repeat until a whole wave finds nothing
        pending. The calling thread runs one rebuild of every wave and a
        pool the rest, so the default one-task drain runs each rebuild
        serially on the caller's thread, under its Spark job group.
        Lease acquisition is the state store's CAS, so concurrent
        threads (or a second worker process) can never double-acquire
        one index; Spark accepts job submission from multiple threads,
        so distributed rebuilds in one wave overlap."""
        import concurrent.futures

        rebuild = self.rebuild_one_projection_which_requires_rebuild
        done: list[str] = []
        with concurrent.futures.ThreadPoolExecutor(
            max_workers=max(1, max_parallel_tasks - 1)
        ) as pool:
            while True:
                # each acquire is a CAS that marks the row leased, so the
                # wave's rebuilds never share an index; a rebuild finishing
                # mid-wave may have been re-flagged, so only a FULL empty
                # wave ends the drain, as in the reference
                futures = [pool.submit(rebuild) for _ in range(max_parallel_tasks - 1)]
                wave = [rebuild()] + [f.result() for f in futures]  # re-raises
                done.extend(n for n in wave if n is not None)
                if all(n is None for n in wave):
                    return done


@contextlib.contextmanager
def _heartbeat(beat: Callable[[], None]):
    """Run `beat()` on a daemon thread every `REBUILD_HEALTH_CHECK_STALE / 5`
    while the block runs. The thread is stopped and joined on the way out,
    so no beat lands after the block and a failed block stops beating."""
    interval = state_module.REBUILD_HEALTH_CHECK_STALE.total_seconds() / 5
    stop = threading.Event()

    def run() -> None:
        while not stop.wait(interval):
            beat()

    thread = threading.Thread(
        target=run, name="projection-rebuild-heartbeat", daemon=True
    )
    thread.start()
    try:
        yield
    finally:
        stop.set()
        thread.join()
