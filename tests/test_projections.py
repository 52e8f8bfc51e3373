"""Projection engine tests — ports of the reference scenarios:
live update (OrderTests.cs:133-210), single-doc rebuild (:212-261), full
rebuild (:263-315), UpdatedAt via synthetic event (:611-662), schema
evolution + rebuild invariant (DynamicProjectionSchemaTests.cs:420-555),
rebuild lease (ProjectionRepository.cs:375-442)."""

import datetime
import decimal
import logging
import threading
import time
import uuid

import pytest

from cloudfabric_eventsourcing_spark.domain import AggregateRepository
from cloudfabric_eventsourcing_spark.eventstore import (
    InMemoryEventStore,
    InMemoryMetadataRepository,
)
from cloudfabric_eventsourcing_spark.projections import (
    IndexNotReadyError,
    IndexSelector,
    InMemoryProjectionRepository,
    ProjectionsEngine,
    ProjectionsRebuildProcessor,
    ProjectionIndexStateStore,
)
from cloudfabric_eventsourcing_spark.queries import Filter, ProjectionQuery
from cloudfabric_eventsourcing_spark.schema import DECIMAL, PropertySchema
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
def world():
    store = InMemoryEventStore()
    state = ProjectionIndexStateStore(InMemoryMetadataRepository())
    schema = orders_list_schema()
    repo = InMemoryProjectionRepository(schema, state)
    repo.ensure_index()
    # mark the initial index rebuilt so Write selector resolves (fresh
    # system with no history — same as the reference tests' setup path)
    state.update_rebuild_progress(
        schema.schema_name, schema.index_name(), 0, completed=True
    )
    engine = ProjectionsEngine(store)
    engine.add_projection_builder(
        OrdersListProjectionBuilder(repo, IndexSelector.Write)
    )
    engine.start()
    agg_repo = AggregateRepository(store, Order)
    return store, state, repo, engine, agg_repo


def place(agg_repo, oid, name, items=(), email="john@gmail.com"):
    order = Order(oid, name, list(items), created_by_email=email)
    agg_repo.save(USER, order)
    return order


def test_live_projection_update(world):
    store, state, repo, engine, agg_repo = world
    order = place(
        agg_repo,
        "00000000-0000-0000-0000-000000000001",
        "New Year's Gifts",
        [OrderItem(utcnow(), "Caverna", decimal.Decimal("12.00"))],
    )
    doc = repo.single(order.id, ORDERS_PARTITION_KEY)
    assert doc is not None
    assert doc["Name"] == "New Year's Gifts"
    assert doc["ItemsCount"] == 1

    loaded = agg_repo.load(order.id, ORDERS_PARTITION_KEY)
    loaded.add_item(OrderItem(utcnow(), "Dixit", decimal.Decimal("6.59")))
    agg_repo.save(USER, loaded)
    doc = repo.single(order.id, ORDERS_PARTITION_KEY)
    assert doc["ItemsCount"] == 2
    assert [i["Name"] for i in doc["Items"]] == ["Caverna", "Dixit"]

    loaded = agg_repo.load(order.id, ORDERS_PARTITION_KEY)
    loaded.remove_item("Caverna")
    agg_repo.save(USER, loaded)
    doc = repo.single(order.id, ORDERS_PARTITION_KEY)
    assert doc["ItemsCount"] == 1
    assert [i["Name"] for i in doc["Items"]] == ["Dixit"]


def test_projection_query_search_and_count(world):
    store, state, repo, engine, agg_repo = world
    place(agg_repo, "00000000-0000-0000-0000-000000000001", "First queryable order",
          [OrderItem(utcnow(), "Dixit", decimal.Decimal("6.59")),
           OrderItem(utcnow(), "Patchwork", decimal.Decimal("4.85"))])
    place(agg_repo, "00000000-0000-0000-0000-000000000002",
          "Second queryable order with additional parameter")
    # search "ORDER" limit 1 -> total 2, records 1 (OrderTests.cs:369-378)
    res = repo.query(ProjectionQuery(search_text="ORDER", limit=1))
    assert res.total_records_found == 2
    assert len(res.records) == 1
    # ItemsCount > 1 -> exactly 1 (OrderTests.cs:389-393)
    res = repo.query(ProjectionQuery(filters=[Filter("ItemsCount", "gt", 1)]))
    assert res.total_records_found == 1
    assert res.records[0].document["Name"] == "First queryable order"


def test_updated_at_via_synthetic_event(world):
    store, state, repo, engine, agg_repo = world
    order = place(agg_repo, "00000000-0000-0000-0000-000000000001", "X")
    before = repo.single(order.id, ORDERS_PARTITION_KEY)["UpdatedAt"]

    class OtherBuilderTarget:  # new event type the list builder doesn't handle
        pass

    # simulate an order event type not handled by the builder: use a raw
    # Event subclass registered ad hoc
    import dataclasses

    from cloudfabric_eventsourcing_spark.eventstore import Event, register_event_type

    @register_event_type
    @dataclasses.dataclass
    class OrderShipped(Event):
        pass

    ts = utcnow() + datetime.timedelta(seconds=5)
    ev = OrderShipped(
        aggregate_id=order.id,
        partition_key=ORDERS_PARTITION_KEY,
        timestamp=ts,
        aggregate_type="Order",
    )
    store.append_to_stream(USER, order.id, 1, [ev])
    after = repo.single(order.id, ORDERS_PARTITION_KEY)["UpdatedAt"]
    assert after == ts and after != before


def test_single_document_rebuild(world):
    store, state, repo, engine, agg_repo = world
    order = place(agg_repo, "00000000-0000-0000-0000-000000000001", "R",
                  [OrderItem(utcnow(), "Caverna", decimal.Decimal("12.00"))])
    repo.delete(order.id, ORDERS_PARTITION_KEY)
    assert repo.single(order.id, ORDERS_PARTITION_KEY) is None
    engine.rebuild_one(order.id, ORDERS_PARTITION_KEY)
    doc = repo.single(order.id, ORDERS_PARTITION_KEY)
    assert doc is not None and doc["ItemsCount"] == 1


def test_full_rebuild_replay(world):
    store, state, repo, engine, agg_repo = world
    for i in range(7):
        o = place(agg_repo, f"00000000-0000-0000-0000-00000000000{i}", f"Order {i}")
        loaded = agg_repo.load(o.id, ORDERS_PARTITION_KEY)
        loaded.add_item(OrderItem(utcnow(), "Extra", decimal.Decimal("1.00")))
        agg_repo.save(USER, loaded)
    repo.delete_all()
    assert repo.query(ProjectionQuery()).total_records_found == 0
    n = engine.replay_events(chunk_size=3)
    assert n == 14
    res = repo.query(ProjectionQuery())
    assert res.total_records_found == 7
    assert all(r.document["ItemsCount"] == 1 for r in res.records)


def test_replay_handles_duplicate_timestamps(world):
    store, state, repo, engine, agg_repo = world
    shared_ts = utcnow()
    from tests.domain_fixtures import OrderPlaced

    for i in range(6):
        ev = OrderPlaced(
            aggregate_id=f"00000000-0000-0000-0000-00000000001{i}",
            partition_key=ORDERS_PARTITION_KEY,
            timestamp=shared_ts,  # all six share one timestamp
            order_name=f"Dup {i}",
            aggregate_type="Order",
        )
        store.append_to_stream(USER, ev.aggregate_id, 0, [ev])
    repo.delete_all()
    n = engine.replay_events(chunk_size=2)
    assert n == 6  # strict-cursor reference behavior would lose 4 of these
    assert repo.query(ProjectionQuery()).total_records_found == 6


def test_rebuild_processor_with_state_machine(world):
    store, state, repo, engine, agg_repo = world
    for i in range(3):
        place(
            agg_repo,
            f"00000000-0000-0000-0000-00000000002{i}",
            f"P{i}",
            [
                OrderItem(utcnow(), "Dixit", decimal.Decimal("6.59")),
                OrderItem(utcnow(), "Patchwork", decimal.Decimal("4.85")),
            ],
        )

    # evolve the schema: add TotalPrice (DynamicProjectionSchemaTests.cs:420-555)
    new_schema = orders_list_schema()
    new_schema.properties.append(
        PropertySchema("TotalPrice", DECIMAL, is_filterable=True)
    )
    new_repo = InMemoryProjectionRepository(new_schema, state)

    class V2Builder(OrdersListProjectionBuilder):
        def on_OrderPlaced(self, evt):
            super().on_OrderPlaced(evt)

            def mutate(doc):
                doc["TotalPrice"] = sum(
                    (i["Amount"] for i in doc["Items"]), decimal.Decimal(0)
                )

            self.update_document(evt.aggregate_id, evt.partition_key, evt.timestamp, mutate)

    # write selector on the evolved schema must refuse until rebuilt
    state_names_before = new_schema.index_name()
    fresh_repo = InMemoryProjectionRepository(new_schema, state)
    # Write selector must refuse an index whose rebuild never completed
    # (ProjectionRepository.cs:306-337). A brand-new projection name (no
    # state row) is allowed through — that's the reference's bootstrap path
    # — so create the state first, then attempt the write.
    lone_schema = orders_list_schema()
    lone_schema.schema_name = "lonely_projection"
    lone_repo = InMemoryProjectionRepository(lone_schema, state)
    lone_repo.ensure_index()
    with pytest.raises(IndexNotReadyError):
        lone_repo.upsert({"Id": "x"}, "P")

    def engine_factory(index_name):
        e = ProjectionsEngine(store)
        e.add_projection_builder(
            V2Builder(new_repo, IndexSelector.ProjectionRebuild)
        )
        return e

    proc = ProjectionsRebuildProcessor(state, engine_factory, store)
    rebuilt = proc.rebuild_projections_that_require_rebuild()
    assert new_schema.index_name() in rebuilt

    # after completed rebuild, reads resolve to the NEW index and TotalPrice
    # is the exact recomputed sum (rebuild == recompute invariant)
    res = new_repo.query(ProjectionQuery(filters=[Filter("Name", "eq", "P0")]))
    assert res.total_records_found == 1
    # rebuild == full recompute invariant (the reference's 42.39 assertion)
    assert res.records[0].document["TotalPrice"] == decimal.Decimal("11.44")
    st = state.get(new_schema.schema_name)
    completed = [s for s in st.indexes_statuses if s.rebuild_completed_at]
    assert completed
    # lease: nothing left to rebuild
    again = proc.rebuild_projections_that_require_rebuild()
    assert new_schema.index_name() not in again


def test_multi_projection_fanout(world):
    """T6: one event store, several builders — each receives only its
    handled types; unhandled order events reach the second builder as the
    synthetic AggregateUpdated (ProjectionsEngine.cs:111-164)."""
    import dataclasses

    from cloudfabric_eventsourcing_spark.eventstore import Event, register_event_type
    from cloudfabric_eventsourcing_spark.projections import ProjectionBuilder
    from cloudfabric_eventsourcing_spark.schema import (
        GUID,
        INT64,
        STRING,
        ProjectionSchema,
        PropertySchema,
    )

    store, state, repo, engine, agg_repo = world

    counts_schema = ProjectionSchema(
        "order_counts",
        [
            PropertySchema("Id", GUID, is_key=True),
            PropertySchema("PartitionKey", STRING),
            PropertySchema("Placed", INT64),
            PropertySchema("Touched", INT64),
        ],
    )
    counts_repo = InMemoryProjectionRepository(counts_schema, state)
    counts_repo.ensure_index()
    state.update_rebuild_progress(
        counts_schema.schema_name, counts_schema.index_name(), 0, completed=True
    )

    class CountsBuilder(ProjectionBuilder):
        aggregate_types = ("Order",)

        def on_OrderPlaced(self, evt):
            self.upsert_document(
                {"Id": evt.aggregate_id, "Placed": 1, "Touched": 0},
                evt.partition_key,
                evt.timestamp,
            )

        def on_AggregateUpdated(self, evt):
            self.update_document(
                evt.aggregate_id,
                evt.partition_key,
                evt.updated_at,
                lambda d: d.update(Touched=d["Touched"] + 1),
            )

    engine.add_projection_builder(CountsBuilder(counts_repo, IndexSelector.Write))
    order = place(agg_repo, "00000000-0000-0000-0000-0000000000aa", "Fan")
    # OrderItemAdded is handled by the list builder but NOT by CountsBuilder
    # -> CountsBuilder gets the synthetic update instead
    loaded = agg_repo.load(order.id, ORDERS_PARTITION_KEY)
    loaded.add_item(OrderItem(utcnow(), "Dixit", decimal.Decimal("6.59")))
    agg_repo.save(USER, loaded)

    list_doc = repo.single(order.id, ORDERS_PARTITION_KEY)
    counts_doc = counts_repo.single(order.id, ORDERS_PARTITION_KEY)
    assert list_doc["ItemsCount"] == 1
    assert counts_doc["Placed"] == 1
    assert counts_doc["Touched"] == 1  # synthetic event, not the concrete one


def test_rebuild_processor_distributed_path(world, spark):
    """T8 scale mode: the rebuild processor drives the per-stream fold +
    the repository's overwrite instead of the serial cursor loop. Result
    must equal the serial recompute (rebuild == recompute invariant)."""
    store, state, repo, engine, agg_repo = world
    for i in range(4):
        place(
            agg_repo,
            f"00000000-0000-0000-0000-00000000003{i}",
            f"D{i}",
            [
                OrderItem(utcnow(), "Dixit", decimal.Decimal("6.59")),
                OrderItem(utcnow(), "Patchwork", decimal.Decimal("4.85")),
            ],
        )

    new_schema = orders_list_schema()
    new_schema.properties.append(
        PropertySchema("TotalPrice", DECIMAL, is_filterable=True)
    )
    new_repo = InMemoryProjectionRepository(new_schema, state)
    # register the evolved schema's index: its rebuild is now pending
    new_repo.ensure_index()

    class V2Builder(OrdersListProjectionBuilder):
        def on_OrderPlaced(self, evt):
            super().on_OrderPlaced(evt)

            def mutate(doc):
                doc["TotalPrice"] = sum(
                    (i["Amount"] for i in doc["Items"]), decimal.Decimal(0)
                )

            self.update_document(
                evt.aggregate_id, evt.partition_key, evt.timestamp, mutate
            )

    def engine_factory(index_name):
        e = ProjectionsEngine(store)
        e.add_projection_builder(V2Builder(new_repo, IndexSelector.ProjectionRebuild))
        return e

    proc = ProjectionsRebuildProcessor(state, engine_factory, store, spark=spark)

    def serial(*args):  # pragma: no cover - failure path
        raise AssertionError("a SparkSession must select the distributed fold")

    # the session selects the distributed fold, which hands the in-memory
    # repository its documents through overwrite_from_df
    proc._replay_serial = serial
    rebuilt = proc.rebuild_projections_that_require_rebuild()
    assert new_schema.index_name() in rebuilt

    res = new_repo.query(ProjectionQuery(filters=[Filter("Name", "eq", "D0")]))
    assert res.total_records_found == 1
    assert res.records[0].document["TotalPrice"] == decimal.Decimal("11.44")
    assert res.records[0].document["ItemsCount"] == 2
    st = state.get(new_schema.schema_name)
    [status] = [
        s for s in st.indexes_statuses if s.index_name == new_schema.index_name()
    ]
    assert status.rebuild_completed_at is not None
    assert status.rebuild_events_processed == 4
    assert status.total_events_to_process == 4


def pending_rebuild(world, spark, name, builder_cls):
    """A distributed rebuild processor over the world's store and a state
    store of its own, where one index, of projection `name`, is pending;
    `builder_cls` rebuilds it."""
    store = world[0]
    state = ProjectionIndexStateStore(InMemoryMetadataRepository())
    schema = orders_list_schema()
    schema.schema_name = name
    repo = InMemoryProjectionRepository(schema, state)
    repo.ensure_index()

    def engine_factory(index_name):
        e = ProjectionsEngine(store)
        e.add_projection_builder(builder_cls(repo, IndexSelector.ProjectionRebuild))
        return e

    proc = ProjectionsRebuildProcessor(state, engine_factory, store, spark=spark)
    return proc, schema, repo


def heartbeat_threads():
    return [
        t for t in threading.enumerate() if t.name == "projection-rebuild-heartbeat"
    ]


def test_a_rebuild_is_one_labelled_fold_job(world, spark):
    """A one-builder distributed rebuild runs at most 2 Spark jobs, each
    labelled "projection rebuild: <index>", and the caller's label comes
    back after."""
    agg_repo = world[4]
    ids = [f"00000000-0000-0000-0000-00000000005{i}" for i in range(3)]
    for i, oid in enumerate(ids):
        item = OrderItem(utcnow(), "Dixit", decimal.Decimal("6.59"))
        place(agg_repo, oid, f"J{i}", [item])
    proc, schema, repo = pending_rebuild(
        world, spark, "labelled_proj", OrdersListProjectionBuilder
    )
    sc = spark.sparkContext
    group = f"rebuild-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "caller")
    try:
        rebuilt = proc.rebuild_one_projection_which_requires_rebuild()
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert rebuilt == schema.index_name()
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    status = sc._jsc.sc().statusStore()
    assert 1 <= len(jobs) <= 2
    assert {status.job(j).description().get() for j in jobs} == {
        f"projection rebuild: {rebuilt}"
    }
    assert all(
        repo.single(oid, ORDERS_PARTITION_KEY)["ItemsCount"] == 1 for oid in ids
    )


def test_a_running_rebuild_keeps_its_lease_and_reports_progress(
    world, spark, monkeypatch
):
    """The heartbeat writes the health check while the fold job runs: past
    the stale window a second worker still cannot lease the index, and
    the progress it reports only rises, to the event total."""
    from cloudfabric_eventsourcing_spark.projections import state as state_mod

    store, _, _, _, agg_repo = world
    for i in range(2):
        item = OrderItem(utcnow(), "Dixit", decimal.Decimal("6.59"))
        place(agg_repo, f"00000000-0000-0000-0000-00000000006{i}", f"S{i}", [item])
    total = store.get_statistics().total_events_count
    monkeypatch.setattr(
        state_mod, "REBUILD_HEALTH_CHECK_STALE", datetime.timedelta(seconds=1)
    )

    class SlowBuilder(OrdersListProjectionBuilder):
        def on_OrderPlaced(self, evt):
            time.sleep(3)  # on the executor: the fold outlasts the window
            super().on_OrderPlaced(evt)

    proc, schema, _ = pending_rebuild(world, spark, "slow_proj", SlowBuilder)
    state = proc.state_store

    def status():
        return state.get(schema.schema_name).indexes_statuses[0]

    done = []
    worker = threading.Thread(
        target=lambda: done.append(
            proc.rebuild_one_projection_which_requires_rebuild()
        )
    )
    worker.start()
    deadline = time.monotonic() + 30
    while status().rebuild_started_at is None and time.monotonic() < deadline:
        time.sleep(0.02)
    leased_at = time.monotonic()
    processed, second = [], None
    while worker.is_alive():
        processed.append(status().rebuild_events_processed)
        if second is None and time.monotonic() - leased_at > 1.5:
            second = state.acquire_and_lock_rebuild()
            assert worker.is_alive(), "the fold ended before the lease check"
        time.sleep(0.1)
    worker.join()
    assert second == (None, None)
    assert done == [schema.index_name()]
    final = status()
    processed.append(final.rebuild_events_processed)
    assert processed == sorted(processed) and processed[-1] == total
    assert final.rebuild_completed_at is not None
    assert not heartbeat_threads()


def test_a_failed_rebuild_stops_its_heartbeat(world, spark, monkeypatch):
    """A fold that raises ends the rebuild with no heartbeat thread left:
    the health check stops advancing, so once the stale window has
    passed another worker takes the lease over."""
    from cloudfabric_eventsourcing_spark.projections import state as state_mod

    agg_repo = world[4]
    place(agg_repo, "00000000-0000-0000-0000-000000000070", "F0")
    monkeypatch.setattr(
        state_mod, "REBUILD_HEALTH_CHECK_STALE", datetime.timedelta(seconds=1)
    )

    class FailingBuilder(OrdersListProjectionBuilder):
        def on_OrderPlaced(self, evt):
            time.sleep(0.5)  # the heartbeat beats before the failure
            raise RuntimeError("fold failed")

    proc, schema, _ = pending_rebuild(world, spark, "failing_proj", FailingBuilder)
    state = proc.state_store
    with pytest.raises(Exception, match="fold failed"):
        proc.rebuild_one_projection_which_requires_rebuild()
    assert not heartbeat_threads()
    checked = state.get(schema.schema_name).indexes_statuses[0]
    time.sleep(1.2)
    later = state.get(schema.schema_name).indexes_statuses[0]
    assert later.rebuild_health_check_at == checked.rebuild_health_check_at
    assert later.rebuild_completed_at is None
    assert state.acquire_and_lock_rebuild()[1] == schema.index_name()


def test_threaded_rebuild_waves_drain_pending_rebuilds(tmp_path):
    """rebuild_projections_that_require_rebuild(max_parallel_tasks=N):
    the reference worker's in-process concurrency shape
    (ProjectionsRebuildProcessor.cs:28-59, maxParallelTasks=4) — waves
    of N concurrent rebuilds until a full empty pass.  Three pending
    rebuilds with N=2 forces a mixed wave (1 name + 1 None) whose
    remainder must still drain; the now thread-safe metadata CAS
    guarantees each index is acquired exactly once."""
    import decimal as _dec

    from cloudfabric_eventsourcing_spark.eventstore import (
        JsonFileMetadataRepository,
        ParquetEventStore,
    )

    store = ParquetEventStore(str(tmp_path / "events"))
    store.initialize()
    repo = AggregateRepository(store, Order)
    for i in range(10):
        o = Order(
            f"{i:08d}-0000-0000-0000-0000000000bb",
            f"T{i}",
            [OrderItem(utcnow(), "seed", _dec.Decimal("1.00"))],
        )
        repo.save(USER, o)

    state = ProjectionIndexStateStore(
        JsonFileMetadataRepository(str(tmp_path / "state.json"))
    )
    names = ("thr_proj_a", "thr_proj_b", "thr_proj_c")
    repos = {}
    for nm in names:
        schema = orders_list_schema()
        schema.schema_name = nm
        repos[nm] = InMemoryProjectionRepository(schema, state)
        repos[nm].ensure_index()
    pending = {state.get(nm).indexes_statuses[0].index_name for nm in names}
    assert len(pending) == 3

    def factory(index_name):
        e = ProjectionsEngine(store)
        for nm in names:
            schema = orders_list_schema()
            schema.schema_name = nm
            if schema.index_name() == index_name:
                e.add_projection_builder(
                    OrdersListProjectionBuilder(
                        repos[nm], IndexSelector.ProjectionRebuild
                    )
                )
        assert e._builders, index_name
        return e

    proc = ProjectionsRebuildProcessor(state, factory, store, chunk_size=5)
    done = proc.rebuild_projections_that_require_rebuild(max_parallel_tasks=2)
    # every pending index rebuilt EXACTLY once (no double-acquire)
    assert sorted(done) == sorted(pending)
    for nm in names:
        st = state.get(nm)
        assert all(s.rebuild_completed_at for s in st.indexes_statuses), nm


@pytest.mark.parametrize("tasks, waves", [(1, 5), (3, 3)])
def test_rebuild_waves_run_one_rebuild_on_the_callers_thread(tasks, waves):
    """Each wave runs one rebuild on the calling thread and the other
    tasks - 1 on a pool, and the drain ends at the first wave that finds
    nothing pending; so the default one-task drain is the serial loop, on
    the caller's thread (its Spark job group and labels apply)."""
    pending = [f"idx{i}" for i in range(4)]
    threads = []
    lock = threading.Lock()

    def rebuild_one():
        with lock:
            threads.append(threading.current_thread())
            return pending.pop(0) if pending else None

    proc = ProjectionsRebuildProcessor(None, None, None)
    proc.rebuild_one_projection_which_requires_rebuild = rebuild_one
    assert sorted(proc.rebuild_projections_that_require_rebuild(tasks)) == [
        f"idx{i}" for i in range(4)
    ]
    assert len(threads) == waves * tasks
    assert threads.count(threading.current_thread()) == waves


def test_state_store_rejects_a_repository_without_cas():
    """Rebuild leases and progress heartbeats are compare-and-swaps; a
    metadata repository that cannot do one is refused up front rather
    than raced into a double-acquired lease later."""

    class NoCasRepo:
        def load_item(self, item_id, partition_key):
            return None

        def upsert_item(self, item_id, partition_key, item):
            pass

    with pytest.raises(TypeError, match="compare_and_upsert"):
        ProjectionIndexStateStore(NoCasRepo())


class DictMetadataRepo:
    """A metadata repository with only the public contract."""

    def __init__(self):
        self.items = {}

    def load_item(self, item_id, partition_key):
        return self.items.get((item_id, partition_key))

    def upsert_item(self, item_id, partition_key, item):
        self.items[(item_id, partition_key)] = item

    def compare_and_upsert(self, item_id, partition_key, item, expected):
        if self.items.get((item_id, partition_key)) != expected:
            return False
        self.items[(item_id, partition_key)] = item
        return True

    def list_ids(self, partition_key):
        return [i for i, pk in self.items if pk == partition_key]


def test_a_repository_with_only_the_public_contract_leases_a_rebuild():
    """The state store lists projections through `list_ids`, never a
    repository's private storage, and refuses a repository without it."""
    state = ProjectionIndexStateStore(DictMetadataRepo())
    schema = orders_list_schema()
    state.resolve_index(schema, IndexSelector.ProjectionRebuild)
    leased, index_name = state.acquire_and_lock_rebuild()
    assert index_name == schema.index_name()
    assert leased.projection_name == schema.schema_name

    class NoListRepo(DictMetadataRepo):
        list_ids = None

    with pytest.raises(TypeError, match="list_ids"):
        ProjectionIndexStateStore(NoListRepo())


def test_taking_over_a_stale_rebuild_lease_logs_one_warning(monkeypatch, caplog):
    """A first lease is silent; leasing an index whose unfinished rebuild
    stopped writing its health check logs one WARNING naming the
    projection, the index and the stale health-check time."""
    from cloudfabric_eventsourcing_spark.projections import state as state_mod

    state = ProjectionIndexStateStore(InMemoryMetadataRepository())
    schema = orders_list_schema()
    state.resolve_index(schema, IndexSelector.ProjectionRebuild)
    with caplog.at_level(logging.WARNING, logger=state_mod.__name__):
        _, index_name = state.acquire_and_lock_rebuild()
        assert index_name == schema.index_name()
        assert not caplog.records
        stale_check = state.get(schema.schema_name).indexes_statuses[0]
        # a negative window makes every health check stale
        monkeypatch.setattr(
            state_mod, "REBUILD_HEALTH_CHECK_STALE", datetime.timedelta(seconds=-1)
        )
        _, again = state.acquire_and_lock_rebuild()
    assert again == index_name
    [record] = caplog.records
    assert record.levelno == logging.WARNING
    message = record.getMessage()
    assert schema.schema_name in message and index_name in message
    assert str(stale_check.rebuild_health_check_at) in message


def test_a_completed_index_is_never_leased_for_a_rebuild():
    """An index marked complete without ever being leased (how a fresh
    projection is bootstrapped) is not pending: next to it, the pending
    index of a new schema version is leased, and alone it leases nothing."""

    def completed_state():
        state = ProjectionIndexStateStore(InMemoryMetadataRepository())
        schema = orders_list_schema()
        state.resolve_index(schema, IndexSelector.ProjectionRebuild)
        state.update_rebuild_progress(
            schema.schema_name, schema.index_name(), 0, completed=True
        )
        return state, schema

    state, schema = completed_state()
    evolved = orders_list_schema()
    evolved.properties.append(PropertySchema("TotalPrice", DECIMAL))
    state.resolve_index(evolved, IndexSelector.ProjectionRebuild)
    assert evolved.index_name() != schema.index_name()
    leased, index_name = state.acquire_and_lock_rebuild()
    assert index_name == evolved.index_name()
    assert leased.projection_name == schema.schema_name

    alone, _ = completed_state()
    assert alone.acquire_and_lock_rebuild() == (None, None)


def test_state_row_with_an_owner_nonce_still_loads():
    """Rows leased by earlier versions carry `rebuild_owner_nonce`; they
    load, lease and heartbeat like any other row."""
    from cloudfabric_eventsourcing_spark.projections import state as state_mod

    repo = InMemoryMetadataRepository()
    store = ProjectionIndexStateStore(repo)
    schema = orders_list_schema()
    schema.schema_name = "nonce_proj"
    row = state_mod.ProjectionIndexState(
        "nonce_proj",
        None,
        [state_mod._new_status(schema, schema.properties_hash(), "idx_n1")],
    ).to_dict()
    row["indexes_statuses"][0]["rebuild_owner_nonce"] = "an-old-nonce"
    repo.upsert_item("nonce_proj", ProjectionIndexStateStore.PARTITION, row)

    assert store.get("nonce_proj").indexes_statuses[0].index_name == "idx_n1"
    leased, index_name = store.acquire_and_lock_rebuild()
    assert index_name == "idx_n1" and leased.projection_name == "nonce_proj"
    store.update_rebuild_progress("nonce_proj", "idx_n1", 3, completed=True)
    saved = repo.load_item("nonce_proj", ProjectionIndexStateStore.PARTITION)
    assert "rebuild_owner_nonce" not in saved["indexes_statuses"][0]
    assert store.get("nonce_proj").indexes_statuses[0].rebuild_completed_at


def test_two_process_rebuild_workers_split_pending_rebuilds(tmp_path):
    """The reference worker runs maxParallelTasks rebuild processors
    against one state store (ProjectionsRebuildProcessor.cs:28-59); two
    worker PROCESSES sharing a JsonFileMetadataRepository must split two
    pending rebuilds — the CAS lease guarantees no index is acquired
    twice — and both must complete.  Workers synchronize on a barrier
    file so the race is real, not sequential."""
    import decimal as _dec
    import json
    import os
    import subprocess
    import sys
    import time

    from cloudfabric_eventsourcing_spark.eventstore import (
        JsonFileMetadataRepository,
        ParquetEventStore,
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    store = ParquetEventStore(str(tmp_path / "events"))
    store.initialize()
    repo = AggregateRepository(store, Order)
    for i in range(30):
        o = Order(
            f"{i:08d}-0000-0000-0000-0000000000aa",
            f"W{i}",
            [OrderItem(utcnow(), "seed", _dec.Decimal("1.00"))],
        )
        repo.save(USER, o)
        loaded = repo.load(o.id, ORDERS_PARTITION_KEY)
        for j in range(3):
            loaded.add_item(OrderItem(utcnow(), f"i{j}", _dec.Decimal("2.00")))
        repo.save(USER, loaded)

    state_path = str(tmp_path / "state.json")
    state = ProjectionIndexStateStore(JsonFileMetadataRepository(state_path))
    names = ("two_proc_proj_a", "two_proc_proj_b")
    for nm in names:
        schema = orders_list_schema()
        schema.schema_name = nm
        InMemoryProjectionRepository(schema, state).ensure_index()
    pending = {
        state.get(nm).indexes_statuses[0].index_name for nm in names
    }
    assert len(pending) == 2

    barrier = str(tmp_path / "go")
    worker = r"""
import json, os, sys, time
root, state_path, store_path, barrier = sys.argv[1:5]
sys.path.insert(0, root)
from cloudfabric_eventsourcing_spark.eventstore import (
    JsonFileMetadataRepository, ParquetEventStore,
)
from cloudfabric_eventsourcing_spark.projections import (
    IndexSelector, InMemoryProjectionRepository, ProjectionsEngine,
    ProjectionsRebuildProcessor, ProjectionIndexStateStore,
)
from tests.domain_fixtures import OrdersListProjectionBuilder, orders_list_schema
state = ProjectionIndexStateStore(JsonFileMetadataRepository(state_path))
store = ParquetEventStore(store_path)
store.initialize()
def factory(index_name):
    e = ProjectionsEngine(store)
    for nm in ("two_proc_proj_a", "two_proc_proj_b"):
        schema = orders_list_schema()
        schema.schema_name = nm
        if schema.index_name() == index_name:
            repo = InMemoryProjectionRepository(schema, state)
            e.add_projection_builder(
                OrdersListProjectionBuilder(repo, IndexSelector.ProjectionRebuild)
            )
    assert e._builders, index_name
    return e
proc = ProjectionsRebuildProcessor(state, factory, store, chunk_size=5)
while not os.path.exists(barrier):
    time.sleep(0.001)
print(json.dumps(proc.rebuild_projections_that_require_rebuild()), flush=True)
"""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker, root, state_path,
             str(tmp_path / "events"), barrier],
            cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for _ in range(2)
    ]
    time.sleep(1.0)  # let both interpreters import and reach the barrier
    with open(barrier, "w") as fh:
        fh.write("go")
    results = []
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()[-2000:]
        results.append(json.loads(out.decode().strip().splitlines()[-1]))

    done = [ix for r in results for ix in r]
    # CAS lease: every pending index rebuilt EXACTLY once across workers
    assert sorted(done) == sorted(pending), results
    # and the race genuinely split: each worker rebuilt exactly one
    assert [len(r) for r in results] == [1, 1], results
    for nm in names:
        st = state.get(nm)
        assert all(s.rebuild_completed_at for s in st.indexes_statuses), nm
