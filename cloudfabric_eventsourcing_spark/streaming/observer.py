"""Structured Streaming projection maintenance over a ParquetEventStore.

Behavioral spec (reference, read-only):
  - change-feed subscription source (S4): PostgresqlEventStoreObserver.cs:19-33,
    CosmosDbEventStoreChangeFeedObserver.cs:67-93 (lease container ↔ the
    streaming checkpoint directory)
  - ordering/delivery (T1): per-event in append order live; replay path
    global ORDER BY created_at (EventsObserver.cs:70-131). Within each
    micro-batch we sort by (created_at, stream_version) before applying.
  - checkpointing (T2): Structured Streaming checkpoint dir replaces the
    hand-rolled LastProcessedEventTimestamp cursor.
  - rebuild sharing the live code path (S5): trigger(availableNow=True)
    drains the store once and stops — this also replaces the reference
    tests' sleep-based eventual-consistency waits (T10) with a
    deterministic `process_all()`.

Delivery contract: the file source + checkpoint give exactly-once batch
delivery; dropDuplicates on the event id inside the batch upgrades the
reference's at-least-once replay (T3) — the projection MERGE sink is
idempotent per document anyway.

Execution modes (default = the scale path):
  - **distributed** (default): each micro-batch only *selects* which
    streams changed; the affected streams are re-folded executor-side
    through the builders' own handlers (projections.distributed.
    fold_builder_documents, on the store's one fold kernel) and the
    documents (with tombstones for deletes) go to the repository's
    `merge_from_df` — the one sink call, whatever the backend. Event rows are never collected to the driver;
    the Parquet MERGE keeps documents on the executors too, and the
    in-memory repository, whose documents live on the driver, collects
    only the affected documents.
  - **parity** (`mode="parity"`): the reference's model — hydrate the
    batch driver-side and apply handlers per event (its handlers are also
    per-event C#). Needed only for builders whose documents aggregate
    across streams, or to reproduce reference behavior exactly.
"""

from __future__ import annotations

import datetime
from typing import Optional

from pyspark.sql import functions as F

from cloudfabric_eventsourcing_spark.eventstore.event import EventRecord
from cloudfabric_eventsourcing_spark.eventstore.store import ParquetEventStore
from cloudfabric_eventsourcing_spark.projections.engine import ProjectionsEngine
from cloudfabric_eventsourcing_spark.session import estimated_bytes, job_description


class SparkStreamingProjectionsObserver:
    def __init__(
        self,
        spark,
        event_store: ParquetEventStore,
        engine: ProjectionsEngine,
        checkpoint_dir: str,
        mode: str = "distributed",
        date_from: Optional[datetime.datetime] = None,
    ):
        if mode not in ("distributed", "parity"):
            raise ValueError(f"unknown observer mode {mode!r}")
        self.spark = spark
        self.event_store = event_store
        self.engine = engine
        self.checkpoint_dir = checkpoint_dir
        self.mode = mode
        # subscribe-from-point-in-time (the reference change feed's
        # StartTime): inclusive boundary; duplicates a replay already
        # applied at exactly date_from are absorbed by the per-id
        # idempotent apply paths (see store.read_stream docstring)
        self.date_from = date_from
        # builder fan-out (T6): push down the union of handled types so the
        # stream filter prunes unhandled events before they reach Python
        self.handled_event_types = set().union(
            *(b.handled_event_types for b in engine._builders)
        )
        self._query = None

    def _foreach_batch(self, batch_df, epoch_id: int) -> None:
        if self.mode == "distributed":
            self._apply_batch_distributed(batch_df, epoch_id)
        else:
            self._apply_batch_parity(batch_df)

    def _apply_batch_distributed(self, batch_df, epoch_id: int) -> None:
        """Scale path: re-fold only the streams touched by this batch,
        executor-side, and MERGE the resulting documents (+ tombstones).
        Each builder's jobs show in the Spark UI as "projection batch
        <epoch_id>: <index>"."""
        from cloudfabric_eventsourcing_spark.projections.distributed import (
            TOMBSTONE_COL,
            fold_builder_documents,
        )

        scoped = touched_streams(self.event_store.to_df(self.spark), batch_df)
        for builder in self.engine._builders:
            repo = builder.repository
            index_name = repo.ensure_index(builder.index_selector)
            with job_description(
                self.spark, f"projection batch {epoch_id}: {index_name}"
            ):
                docs_df = fold_builder_documents(
                    scoped, builder, with_tombstones=True
                )
                repo.merge_from_df(
                    docs_df, selector=builder.index_selector,
                    tombstone_col=TOMBSTONE_COL,
                )

    def _apply_batch_parity(self, batch_df) -> None:
        # duplicate ids are copies of one event, so which one is kept does
        # not matter; order within batch: (created_at, stream_version) — T1
        rows = batch_df.dropDuplicates(["id"]).collect()
        rows.sort(key=lambda r: (r["created_at"], r["stream_version"]))
        for row in rows:
            self.engine.handle_event(EventRecord(**row.asDict()).to_event())

    def _stream_df(self):
        df = self.event_store.read_stream(self.spark, date_from=self.date_from)
        if self.handled_event_types:
            types = sorted(self.handled_event_types - {"AggregateUpdated"})
            synthetic_needed = "AggregateUpdated" in self.handled_event_types
            if types and not synthetic_needed:
                df = df.where(F.col("event_type").isin(types))
        return df

    def start(self, processing_time: str = "1 seconds"):
        """Continuous live maintenance (the reference's in-process push,
        as a micro-batch stream)."""
        self._query = (
            self._stream_df()
            .writeStream.foreachBatch(self._foreach_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )
        return self._query

    def process_all(self) -> None:
        """Drain everything currently in the store and stop — the
        deterministic test/rebuild trigger (availableNow, T10)."""
        query = (
            self._stream_df()
            .writeStream.foreachBatch(self._foreach_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query = None


def touched_streams(events_df, batch_df):
    """The rows of `events_df` in the streams `batch_df` touched. A batch
    whose keys fit `spark.sql.autoBroadcastJoinThreshold` is broadcast as
    it is, in one job; a larger one (a large store re-delivered after a
    compaction) or one of unknown size is broadcast as distinct streams."""
    keys = ["stream_id", "partition_key"]
    touched = batch_df.select(*keys)
    conf = batch_df.sparkSession._jsparkSession.sessionState().conf()
    if estimated_bytes(touched) > conf.autoBroadcastJoinThreshold():
        touched = touched.distinct()
    return events_df.join(F.broadcast(touched), keys, "left_semi")
