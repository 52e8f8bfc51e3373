"""Structured Streaming projection maintenance (S4/T1/T2/T5/T10) and the
distributed-fold rebuild path."""

import collections
import contextlib
import decimal
import json
import os
import uuid
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from cloudfabric_eventsourcing_spark import commit
from cloudfabric_eventsourcing_spark.domain import AggregateRepository
from cloudfabric_eventsourcing_spark.eventstore import (
    InMemoryMetadataRepository,
    ParquetEventStore,
)
from cloudfabric_eventsourcing_spark.projections import (
    IndexSelector,
    InMemoryProjectionRepository,
    ParquetProjectionRepository,
    ProjectionsEngine,
    ProjectionIndexStateStore,
)
from cloudfabric_eventsourcing_spark.projections.distributed import (
    fold_builder_documents,
)
from cloudfabric_eventsourcing_spark.queries import Filter, ProjectionQuery
from cloudfabric_eventsourcing_spark.session import estimated_bytes
from cloudfabric_eventsourcing_spark.streaming import SparkStreamingProjectionsObserver
from cloudfabric_eventsourcing_spark.streaming.observer import touched_streams
from tests.domain_fixtures import (
    ORDERS_PARTITION_KEY,
    Order,
    OrderItem,
    OrdersListProjectionBuilder,
    orders_list_schema,
    utcnow,
)

USER = {"userId": "u-1"}


@pytest.fixture
def world(spark, tmp_path):
    store = ParquetEventStore(str(tmp_path / "events"))
    store.initialize()
    state = ProjectionIndexStateStore(InMemoryMetadataRepository())
    schema = orders_list_schema()
    repo = ParquetProjectionRepository(schema, state, str(tmp_path / "proj"), spark)
    repo.ensure_index()
    state.update_rebuild_progress(
        schema.schema_name, schema.index_name(), 0, completed=True
    )
    agg_repo = AggregateRepository(store, Order)
    return store, state, repo, agg_repo


def seed_orders(agg_repo, n=5):
    orders = []
    for i in range(n):
        o = Order(
            f"00000000-0000-0000-0000-0000000000{i:02d}",
            f"Order {i}",
            [OrderItem(utcnow(), "Dixit", decimal.Decimal("6.59"))],
            created_by_email=f"user{i}@gmail.com",
        )
        agg_repo.save(USER, o)
        loaded = agg_repo.load(o.id, ORDERS_PARTITION_KEY)
        loaded.add_item(OrderItem(utcnow(), f"Extra-{i}", decimal.Decimal("1.00") * (i + 1)))
        agg_repo.save(USER, loaded)
        orders.append(o)
    return orders


def test_streaming_projection_maintenance(spark, tmp_path, world):
    store, state, repo, agg_repo = world
    orders = seed_orders(agg_repo, 5)

    engine = ProjectionsEngine(store)
    engine.add_projection_builder(OrdersListProjectionBuilder(repo, IndexSelector.Write))
    observer = SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt")
    )
    observer.process_all()  # availableNow drain — deterministic (T10)

    res = repo.query(ProjectionQuery(filters=[Filter("ItemsCount", "ge", 2)]))
    assert res.total_records_found == 5
    doc = repo.single(orders[0].id, ORDERS_PARTITION_KEY)
    assert doc["ItemsCount"] == 2
    assert [i["Name"] for i in doc["Items"]] == ["Dixit", "Extra-0"]

    # incremental: append MORE events, drain again from the checkpoint —
    # only the new events are processed (T2 exactly-once)
    loaded = agg_repo.load(orders[0].id, ORDERS_PARTITION_KEY)
    loaded.remove_item("Dixit")
    agg_repo.save(USER, loaded)
    observer.process_all()
    doc = repo.single(orders[0].id, ORDERS_PARTITION_KEY)
    assert doc["ItemsCount"] == 1
    assert [i["Name"] for i in doc["Items"]] == ["Extra-0"]
    # others untouched
    assert repo.single(orders[1].id, ORDERS_PARTITION_KEY)["ItemsCount"] == 2


def test_distributed_fold_rebuild_matches_live(spark, tmp_path, world):
    """The scale path: rebuild the whole projection with one distributed
    groupBy(stream_id) fold over the event log and compare it to the
    row-at-a-time live path (differential: vectorized vs parity engine)."""
    store, state, repo, agg_repo = world
    seed_orders(agg_repo, 5)

    # live path docs
    engine = ProjectionsEngine(store)
    engine.add_projection_builder(OrdersListProjectionBuilder(repo, IndexSelector.Write))
    observer = SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt2")
    )
    observer.process_all()
    live = {
        r.document["Id"]: r.document
        for r in repo.query(ProjectionQuery()).records
    }

    # distributed fold: events -> per-stream document (declarative, no UDF)
    events = store.to_df(spark)
    placed = (
        events.where(F.col("event_type") == "OrderPlaced")
        .select(
            F.col("stream_id").alias("Id"),
            F.col("partition_key").alias("PartitionKey"),
            F.get_json_object("event_data", "$.order_name").alias("Name"),
        )
    )
    items_delta = events.where(
        F.col("event_type").isin("OrderItemAdded", "OrderItemRemoved")
    ).select(
        "stream_id",
        F.when(F.col("event_type") == "OrderItemAdded", 1).otherwise(-1).alias("delta"),
    )
    placed_counts = events.where(F.col("event_type") == "OrderPlaced").select(
        "stream_id",
        F.coalesce(
            F.json_array_length(F.get_json_object("event_data", "$.items")), F.lit(0)
        ).alias("initial"),
    )
    counts = (
        placed_counts.join(
            items_delta.groupBy("stream_id").agg(F.sum("delta").alias("d")),
            "stream_id",
            "left",
        )
        .select(
            "stream_id",
            (F.col("initial") + F.coalesce(F.col("d"), F.lit(0))).alias("ItemsCount"),
        )
    )
    folded = placed.join(counts, placed.Id == counts.stream_id).select(
        "Id", "PartitionKey", "Name", F.col("ItemsCount").cast("long")
    )
    rows = {r["Id"]: r for r in folded.collect()}

    assert set(rows) == set(live)
    for oid, doc in live.items():
        assert rows[oid]["ItemsCount"] == doc["ItemsCount"]
        assert rows[oid]["Name"] == doc["Name"]


def test_overwrite_from_df_rebuild_sink(spark, tmp_path, world):
    store, state, repo, agg_repo = world
    seed_orders(agg_repo, 3)
    events = store.to_df(spark)
    docs = (
        events.where(F.col("event_type") == "OrderPlaced")
        .select(
            F.col("stream_id").alias("Id"),
            F.col("partition_key").alias("PartitionKey"),
            F.col("created_at").alias("UpdatedAt"),
            F.get_json_object("event_data", "$.order_name").alias("Name"),
            F.lit(1).cast("long").alias("ItemsCount"),
        )
    )
    repo.overwrite_from_df(docs)
    res = repo.query(ProjectionQuery())
    assert res.total_records_found == 3


def test_projection_sql_view(spark, tmp_path, world):
    store, state, repo, agg_repo = world
    seed_orders(agg_repo, 4)
    from cloudfabric_eventsourcing_spark.projections import ProjectionsEngine
    from cloudfabric_eventsourcing_spark.streaming import (
        SparkStreamingProjectionsObserver,
    )
    from tests.domain_fixtures import OrdersListProjectionBuilder

    engine = ProjectionsEngine(store)
    engine.add_projection_builder(OrdersListProjectionBuilder(repo, IndexSelector.Write))
    SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt3")
    ).process_all()
    view = repo.create_or_replace_view()
    rows = spark.sql(
        f"SELECT Name, ItemsCount FROM {view} WHERE ItemsCount >= 2 ORDER BY Name"
    ).collect()
    assert all(r["ItemsCount"] >= 2 for r in rows) and rows
    # nested access through plain SQL
    emails = spark.sql(f"SELECT CreatedBy.Email AS e FROM {view} ORDER BY e").collect()
    assert emails[0]["e"].startswith("user0@")


def test_distributed_observer_never_applies_events_on_driver(
    spark, tmp_path, world
):
    """Pins the scale contract: in the default (distributed) mode the
    driver never hydrates/applies event rows — engine.handle_event is the
    per-event driver loop and must stay cold."""
    store, state, repo, agg_repo = world
    seed_orders(agg_repo, 3)

    engine = ProjectionsEngine(store)
    engine.add_projection_builder(
        OrdersListProjectionBuilder(repo, IndexSelector.Write)
    )

    def boom(event):  # pragma: no cover - failure path
        raise AssertionError("driver-side per-event apply in distributed mode")

    engine.handle_event = boom
    observer = SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt_nd")
    )
    assert observer.mode == "distributed"
    observer.process_all()
    res = repo.query(ProjectionQuery(filters=[Filter("ItemsCount", "ge", 2)]))
    assert res.total_records_found == 3


def test_distributed_observer_propagates_deletes(spark, tmp_path, world):
    """A builder that hard-deletes a document must produce a tombstone that
    removes the doc from the real index (MERGE delete parity)."""
    store, state, repo, agg_repo = world
    orders = seed_orders(agg_repo, 2)

    class DeletingBuilder(OrdersListProjectionBuilder):
        def on_OrderItemRemoved(self, evt):
            self.repository.delete(
                evt.aggregate_id, evt.partition_key, selector=self.index_selector
            )

    engine = ProjectionsEngine(store)
    engine.add_projection_builder(DeletingBuilder(repo, IndexSelector.Write))
    observer = SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt_del")
    )
    observer.process_all()
    assert repo.single(orders[0].id, ORDERS_PARTITION_KEY) is not None

    loaded = agg_repo.load(orders[0].id, ORDERS_PARTITION_KEY)
    loaded.remove_item("Dixit")
    agg_repo.save(USER, loaded)
    observer.process_all()
    assert repo.single(orders[0].id, ORDERS_PARTITION_KEY) is None
    assert repo.single(orders[1].id, ORDERS_PARTITION_KEY) is not None


def test_distributed_observer_never_collects_documents(spark, tmp_path, world):
    """Pins the df-native MERGE sink: in distributed mode with a Spark-
    backed repository, no document row crosses the driver — the driver
    upsert/delete entry points must stay cold (upserts land via
    merge_from_df executor writes, tombstones via one anti-join)."""
    store, state, repo, agg_repo = world
    orders = seed_orders(agg_repo, 3)

    class DeletingBuilder(OrdersListProjectionBuilder):
        def on_OrderItemRemoved(self, evt):
            self.repository.delete(
                evt.aggregate_id, evt.partition_key, selector=self.index_selector
            )

    engine = ProjectionsEngine(store)
    engine.add_projection_builder(DeletingBuilder(repo, IndexSelector.Write))

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("driver-side document funnel in distributed mode")

    repo._upsert_batch = boom
    repo._delete = boom
    observer = SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt_nocollect")
    )
    observer.process_all()
    assert repo.single(orders[0].id, ORDERS_PARTITION_KEY)["ItemsCount"] == 2

    # deletes also stay executor-side: tombstone applied by the MERGE
    loaded = agg_repo.load(orders[0].id, ORDERS_PARTITION_KEY)
    loaded.remove_item("Dixit")
    agg_repo.save(USER, loaded)
    observer.process_all()
    assert repo.single(orders[0].id, ORDERS_PARTITION_KEY) is None
    assert repo.single(orders[1].id, ORDERS_PARTITION_KEY) is not None


def test_in_memory_and_parquet_sinks_hold_the_same_documents(
    spark, tmp_path, world
):
    """The distributed observer hands every repository the same documents
    frame: the in-memory repository's driver-side MERGE and the Parquet
    MERGE of a repository built without a SparkSession (it reads with the
    frame's session) must hold the same documents after a drain and after
    a drain that deletes one."""
    store, state, _, agg_repo = world
    orders = seed_orders(agg_repo, 2)

    class DeletingBuilder(OrdersListProjectionBuilder):
        def on_OrderItemRemoved(self, evt):
            self.repository.delete(
                evt.aggregate_id, evt.partition_key, selector=self.index_selector
            )

    schema = orders_list_schema()
    repos = [
        InMemoryProjectionRepository(schema, state),
        ParquetProjectionRepository(schema, state, str(tmp_path / "proj_nospark")),
    ]
    observers = []
    for i, repo in enumerate(repos):
        engine = ProjectionsEngine(store)
        engine.add_projection_builder(DeletingBuilder(repo, IndexSelector.Write))
        observers.append(SparkStreamingProjectionsObserver(
            spark, store, engine, str(tmp_path / f"ckpt_sink{i}")
        ))

    def drain():
        for observer in observers:
            observer.process_all()
        return [
            {o.id: repo.single(o.id, ORDERS_PARTITION_KEY) for o in orders}
            for repo in repos
        ]

    in_memory, parquet = drain()
    assert in_memory == parquet
    assert all(doc["ItemsCount"] == 2 for doc in parquet.values())

    loaded = agg_repo.load(orders[0].id, ORDERS_PARTITION_KEY)
    loaded.remove_item("Dixit")
    agg_repo.save(USER, loaded)
    in_memory, parquet = drain()
    assert in_memory == parquet
    assert parquet[orders[0].id] is None and parquet[orders[1].id] is not None


def test_one_batch_applies_each_event_once(spark, tmp_path, world):
    """The Parquet MERGE computes its documents frame once: one drained
    batch runs the builder's handlers once per event of the streams it
    touched, not once for the changed keys and again for the upserts."""
    store, _, repo, agg_repo = world
    orders = seed_orders(agg_repo, 2)
    applied = tmp_path / "applied"
    applied.mkdir()

    class CountingBuilder(OrdersListProjectionBuilder):
        def apply_event(self, event):
            # one marker file per handler call, written where the fold runs
            (applied / f"{event.aggregate_id}.{uuid.uuid4().hex}").touch()
            super().apply_event(event)

    engine = ProjectionsEngine(store)
    engine.add_projection_builder(CountingBuilder(repo, IndexSelector.Write))
    SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt_once")
    ).process_all()

    events = {
        r["stream_id"]: r["count"]
        for r in store.to_df(spark).groupBy("stream_id").count().collect()
    }
    calls = collections.Counter(p.name.split(".")[0] for p in applied.iterdir())
    assert calls == events == {o.id: 2 for o in orders}
    assert all(
        repo.single(o.id, ORDERS_PARTITION_KEY)["ItemsCount"] == 2 for o in orders
    )


def test_a_fold_applies_a_listed_twice_event_once(spark, tmp_path, world):
    """A compaction renames its snapshot in before it unlinks the sources,
    so `to_df` can list every event twice until the next maintenance: in
    that window, or after a crash between the two steps."""
    from cloudfabric_eventsourcing_spark.projections.distributed import (
        fold_builder_documents,
    )

    store, _, repo, agg_repo = world
    seed_orders(agg_repo, 3)
    builder = OrdersListProjectionBuilder(repo, IndexSelector.Write)
    events = store.to_df(spark)

    def fold(df):
        return {
            r["Id"]: r.asDict(recursive=True)
            for r in fold_builder_documents(df, builder).collect()
        }

    once = fold(events)
    assert [d["ItemsCount"] for d in once.values()] == [2, 2, 2]
    assert fold(events.unionByName(events)) == once


def test_observer_applies_a_listed_twice_event_once(
    spark, tmp_path, world, monkeypatch
):
    """The live batch re-folds its streams from the same `to_df` frame, so
    the MERGEd documents must count each event once as well."""
    store, _, repo, agg_repo = world
    orders = seed_orders(agg_repo, 2)
    to_df = store.to_df
    monkeypatch.setattr(
        store, "to_df", lambda s: to_df(s).unionByName(to_df(s))
    )
    engine = ProjectionsEngine(store)
    engine.add_projection_builder(
        OrdersListProjectionBuilder(repo, IndexSelector.Write)
    )
    SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt_twice")
    ).process_all()
    assert [
        repo.single(o.id, ORDERS_PARTITION_KEY)["ItemsCount"] for o in orders
    ] == [2, 2]


def test_batch_jobs_carry_the_projection_batch_description(spark, tmp_path, world):
    """Every Spark job of a distributed batch is labelled "projection
    batch <epoch>: <index>", and the caller's label comes back after."""
    store, _, repo, agg_repo = world
    orders = seed_orders(agg_repo, 2)
    engine = ProjectionsEngine(store)
    engine.add_projection_builder(OrdersListProjectionBuilder(repo, IndexSelector.Write))
    observer = SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt_label")
    )
    sc = spark.sparkContext
    group = f"batch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "caller")
    try:
        observer._foreach_batch(store.to_df(spark), 7)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    status = sc._jsc.sc().statusStore()
    assert jobs
    assert {status.job(j).description().get() for j in jobs} == {
        f"projection batch 7: {repo.schema.index_name()}"
    }
    assert all(
        repo.single(o.id, ORDERS_PARTITION_KEY)["ItemsCount"] == 2 for o in orders
    )


def rebuilt_documents(spark, store, tmp_path, ids):
    """The documents of a full rebuild of the store, by id."""
    schema = orders_list_schema()
    state = ProjectionIndexStateStore(InMemoryMetadataRepository())
    repo = ParquetProjectionRepository(schema, state, str(tmp_path / "rebuilt"), spark)
    builder = OrdersListProjectionBuilder(repo, IndexSelector.ProjectionRebuild)
    repo.overwrite_from_df(fold_builder_documents(store.to_df(spark), builder))
    return {i: repo.single(i, ORDERS_PARTITION_KEY) for i in ids}


def test_a_first_drain_into_an_empty_projection_writes_every_document(
    spark, tmp_path, world
):
    """The first MERGE into an empty projection has a plan Catalyst cannot
    size; it keeps the plan's partitioning and writes every document."""
    store, _, repo, agg_repo = world
    ids = [o.id for o in seed_orders(agg_repo, 3)]
    engine = ProjectionsEngine(store)
    engine.add_projection_builder(OrdersListProjectionBuilder(repo, IndexSelector.Write))
    SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt_first")
    ).process_all()
    assert repo.to_df().count() == 3
    assert {i: repo.single(i, ORDERS_PARTITION_KEY) for i in ids} == (
        rebuilt_documents(spark, store, tmp_path, ids)
    )


def test_a_one_event_batch_writes_one_file_in_five_labelled_jobs(
    spark, tmp_path, world
):
    """After the first drain, each one-event micro-batch runs at most 5
    Spark jobs, every one labelled "projection batch <epoch>: <index>",
    and leaves the projection in one snapshot file: the MERGE writes as
    many files as the projection's estimated size needs, not one per
    partition of the snapshot it read."""
    store, _, repo, agg_repo = world
    orders = seed_orders(agg_repo, 3)
    engine = ProjectionsEngine(store)
    engine.add_projection_builder(OrdersListProjectionBuilder(repo, IndexSelector.Write))
    observer = SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt_shape")
    )
    query = observer.start(processing_time="100 milliseconds")
    sc = spark.sparkContext
    status = sc._jsc.sc().statusStore()
    try:
        query.processAllAvailable()
        for i in range(3):
            loaded = agg_repo.load(orders[i].id, ORDERS_PARTITION_KEY)
            loaded.add_item(OrderItem(utcnow(), f"One-{i}", decimal.Decimal("2.00")))
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            # micro-batch jobs run in the job group of the query's run
            before = set(sc.statusTracker().getJobIdsForGroup(str(query.runId)))
            agg_repo.save(USER, loaded)
            query.processAllAvailable()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = set(sc.statusTracker().getJobIdsForGroup(str(query.runId)))
            epoch = query.lastProgress["batchId"]
            assert 1 <= len(jobs - before) <= 5
            assert {status.job(j).description().get() for j in jobs - before} == {
                f"projection batch {epoch}: {repo.schema.index_name()}"
            }
    finally:
        observer.stop()
    latest = commit.latest(repo._dir(repo.schema.index_name()))
    assert len([f for f in os.listdir(latest) if f.endswith(".parquet")]) == 1
    assert [
        repo.single(o.id, ORDERS_PARTITION_KEY)["ItemsCount"] for o in orders
    ] == [3, 3, 3]


def test_a_restart_after_compaction_unlinked_a_logged_fragment_converges(
    spark, tmp_path, world
):
    """A batch fails after its offsets are logged, and a compaction then
    unlinks the fragment that batch listed. The restarted query skips the
    missing file, and the compaction snapshot re-delivers the event, so
    the projection ends equal to a full rebuild."""
    store, _, repo, agg_repo = world
    orders = seed_orders(agg_repo, 2)
    ids = [o.id for o in orders]
    checkpoint = str(tmp_path / "ckpt_race")

    def observer():
        engine = ProjectionsEngine(store)
        engine.add_projection_builder(
            OrdersListProjectionBuilder(repo, IndexSelector.Write)
        )
        return SparkStreamingProjectionsObserver(spark, store, engine, checkpoint)

    observer().process_all()
    loaded = agg_repo.load(orders[0].id, ORDERS_PARTITION_KEY)
    loaded.remove_item("Dixit")
    agg_repo.save(USER, loaded)

    epochs = []

    def fail(batch_df, epoch_id):
        epochs.append(epoch_id)
        raise RuntimeError("batch failed after its offsets were logged")

    failing = observer()
    failing._foreach_batch = fail
    with pytest.raises(Exception, match="offsets were logged"):
        failing.process_all()
    # the file source's log of the failed batch: a version line, then
    # one JSON entry per file the batch listed
    with open(os.path.join(checkpoint, "sources", "0", str(epochs[0]))) as fh:
        listed = [json.loads(line)["path"] for line in fh.read().splitlines()[1:]]
    assert listed and all(os.path.exists(urlparse(p).path) for p in listed)
    store.compact()
    assert not any(os.path.exists(urlparse(p).path) for p in listed)

    observer().process_all()
    assert repo.single(orders[0].id, ORDERS_PARTITION_KEY)["ItemsCount"] == 1
    assert {i: repo.single(i, ORDERS_PARTITION_KEY) for i in ids} == (
        rebuilt_documents(spark, store, tmp_path, ids)
    )



@contextlib.contextmanager
def sql_setting(spark, key, value):
    """`key` set to `value` for the block; streaming queries started in
    it take the setting with them."""
    previous = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if previous is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, previous)


def data_files(repo):
    latest = commit.latest(repo._dir(repo.schema.index_name()))
    return [os.path.join(latest, f) for f in os.listdir(latest) if f.endswith(".parquet")]


def test_a_merge_is_sized_by_its_snapshot_not_by_the_store(spark, tmp_path, world):
    """With `spark.sql.files.maxPartitionBytes` above the projection's
    bytes but below the store's, each one-event MERGE still leaves the
    projection in one file: a fold's checkpoint keeps the estimate of the
    whole store it read, and the write is sized by the snapshot instead."""
    store, _, repo, agg_repo = world
    orders = seed_orders(agg_repo, 3)
    engine = ProjectionsEngine(store)
    engine.add_projection_builder(OrdersListProjectionBuilder(repo, IndexSelector.Write))
    observer = SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt_sized")
    )
    observer.process_all()
    target = 2 * sum(os.path.getsize(f) for f in data_files(repo))
    assert estimated_bytes(store.to_df(spark)) > target
    with sql_setting(spark, "spark.sql.files.maxPartitionBytes", str(target)):
        for i, order in enumerate(orders):
            loaded = agg_repo.load(order.id, ORDERS_PARTITION_KEY)
            loaded.add_item(OrderItem(utcnow(), f"One-{i}", decimal.Decimal("2.00")))
            agg_repo.save(USER, loaded)
            observer.process_all()
            assert len(data_files(repo)) == 1
    assert [
        repo.single(o.id, ORDERS_PARTITION_KEY)["ItemsCount"] for o in orders
    ] == [3, 3, 3]


def test_a_batch_too_big_to_broadcast_selects_its_distinct_streams(
    spark, tmp_path, world
):
    """A batch within `spark.sql.autoBroadcastJoinThreshold` is broadcast
    as it is; a larger one is made distinct first, so the broadcast holds
    one row per stream. The observer drains, and re-drains after a
    compaction, through the distinct path to a full rebuild's documents."""
    store, _, repo, agg_repo = world
    orders = seed_orders(agg_repo, 3)
    ids = [o.id for o in orders]
    events = store.to_df(spark)

    def selection():
        scoped = touched_streams(events, events)
        plan = scoped._jdf.queryExecution().optimizedPlan().toString()
        return "Aggregate" in plan, sorted(r["id"] for r in scoped.collect())

    keys = estimated_bytes(events.select("stream_id", "partition_key"))
    every_event = sorted(r["id"] for r in events.collect())
    assert selection() == (False, every_event)
    with sql_setting(spark, "spark.sql.autoBroadcastJoinThreshold", str(keys - 1)):
        assert selection() == (True, every_event)

    engine = ProjectionsEngine(store)
    engine.add_projection_builder(OrdersListProjectionBuilder(repo, IndexSelector.Write))
    observer = SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt_distinct")
    )
    with sql_setting(spark, "spark.sql.autoBroadcastJoinThreshold", "1"):
        observer.process_all()
        store.compact()
        loaded = agg_repo.load(orders[0].id, ORDERS_PARTITION_KEY)
        loaded.remove_item("Dixit")
        agg_repo.save(USER, loaded)
        observer.process_all()
    assert repo.single(orders[0].id, ORDERS_PARTITION_KEY)["ItemsCount"] == 1
    assert {i: repo.single(i, ORDERS_PARTITION_KEY) for i in ids} == (
        rebuilt_documents(spark, store, tmp_path, ids)
    )


def test_parity_observer_mode_still_available(spark, tmp_path, world):
    store, state, repo, agg_repo = world
    orders = seed_orders(agg_repo, 2)
    engine = ProjectionsEngine(store)
    engine.add_projection_builder(
        OrdersListProjectionBuilder(repo, IndexSelector.Write)
    )
    observer = SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt_par"), mode="parity"
    )
    observer.process_all()
    doc = repo.single(orders[0].id, ORDERS_PARTITION_KEY)
    assert doc["ItemsCount"] == 2


def test_update_documents_expr_bulk(spark, tmp_path, world):
    """Declarative bulk UPDATE..WHERE: matched docs change in one Spark
    job, unmatched pass through, UpdatedAt stamps only matched rows."""
    import datetime

    from pyspark.sql import functions as F

    store, state, repo, agg_repo = world
    orders = seed_orders(agg_repo, 4)
    engine = ProjectionsEngine(store)
    engine.add_projection_builder(
        OrdersListProjectionBuilder(repo, IndexSelector.Write)
    )
    SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt_upd")
    ).process_all()

    stamp = datetime.datetime(2030, 1, 1)
    repo.update_documents_expr(
        ProjectionQuery(filters=[Filter("Name", "string-contains", "Order 1")]),
        {"Name": F.concat(F.col("Name"), F.lit(" [archived]"))},
        partition_key=ORDERS_PARTITION_KEY,
        updated_at=stamp,
    )
    hit = repo.single(orders[1].id, ORDERS_PARTITION_KEY)
    assert hit["Name"] == "Order 1 [archived]"
    assert hit["UpdatedAt"] == stamp
    other = repo.single(orders[2].id, ORDERS_PARTITION_KEY)
    assert other["Name"] == "Order 2"
    assert other["UpdatedAt"] != stamp
    # idempotent re-read through the query path
    res = repo.query(
        ProjectionQuery(filters=[Filter("Name", "string-ends-with", "[archived]")])
    )
    assert res.total_records_found == 1


def test_read_stream_from_timestamp(spark, tmp_path):
    """Change-feed StartTime parity (CosmosDbEventStoreChangeFeedObserver
    .cs:67-93): read_stream(date_from=ts) subscribes from a point in
    time — earlier events are filtered at the source, and the boundary
    is INCLUSIVE so events sharing the boundary microsecond are not
    skipped (they arrive as duplicates of a replay that ended at ts and
    are absorbed by per-id dedup, like the replay path)."""
    import datetime

    from cloudfabric_eventsourcing_spark.eventstore.event import Event

    store = ParquetEventStore(str(tmp_path / "events"))
    store.initialize()
    t0 = datetime.datetime(2026, 8, 15, 10, 0, 0)
    t1 = datetime.datetime(2026, 8, 15, 11, 0, 0)
    t2 = datetime.datetime(2026, 8, 15, 12, 0, 0)

    def ev(sid, ts):
        return Event(
            aggregate_id=sid, partition_key="pk", timestamp=ts,
            aggregate_type="Thing",
        )

    # stream A: one old event, one AT the boundary; stream B: one at the
    # boundary (tie across streams), one after it
    store.append_to_stream(USER, "s-a", 0, [ev("s-a", t0), ev("s-a", t1)])
    store.append_to_stream(USER, "s-b", 0, [ev("s-b", t1), ev("s-b", t2)])

    seen = []

    def collect(batch, _epoch):
        seen.extend(
            (r["stream_id"], r["created_at"]) for r in batch.collect()
        )

    q = (
        store.read_stream(spark, date_from=t1)
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # only boundary-and-later events: t0 filtered, BOTH t1 ties present
    assert sorted(seen) == [("s-a", t1), ("s-b", t1), ("s-b", t2)]

    # without date_from the same store yields everything (control)
    seen2 = []

    def collect2(batch, _epoch):
        seen2.extend(r["created_at"] for r in batch.collect())

    q2 = (
        store.read_stream(spark)
        .writeStream.foreachBatch(collect2)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert sorted(seen2) == [t0, t1, t1, t2]
