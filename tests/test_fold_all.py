"""Distributed bulk aggregate reconstruction (fold_all) — differential
against the point-load path."""

import decimal
import os
import sys

from cloudfabric_eventsourcing_spark.domain import AggregateRepository
from cloudfabric_eventsourcing_spark.domain.aggregate import fold_all
from cloudfabric_eventsourcing_spark.eventstore import ParquetEventStore
from tests.domain_fixtures import (
    ORDERS_PARTITION_KEY,
    Order,
    OrderItem,
    utcnow,
)

USER = {"userId": "u"}


def test_fold_all_matches_point_loads(spark, tmp_path):
    store = ParquetEventStore(str(tmp_path / "events"))
    store.initialize()
    repo = AggregateRepository(store, Order)
    ids = []
    for i in range(12):
        o = Order(
            f"00000000-0000-0000-0000-0000000000{i:02d}",
            f"Order {i}",
            [OrderItem(utcnow(), "Base", decimal.Decimal("10.00"))],
        )
        repo.save(USER, o)
        loaded = repo.load(o.id, ORDERS_PARTITION_KEY)
        for j in range(i % 5):
            loaded.add_item(OrderItem(utcnow(), f"x{j}", decimal.Decimal("1.50")))
        if i % 3 == 0:
            loaded.remove_item("Base")
        repo.save(USER, loaded)
        ids.append(o.id)

    def to_row(agg: Order) -> dict:
        return {
            "id": agg.id,
            "name": agg.name,
            "n_items": len(agg.items),
            "version": agg.version,
            "total": float(sum((i.amount for i in agg.items), decimal.Decimal(0))),
        }

    out = fold_all(
        store.to_df(spark),
        Order,
        to_row,
        "id string, name string, n_items long, version long, total double",
        partition_key=ORDERS_PARTITION_KEY,
    )
    bulk = {r["id"]: r.asDict() for r in out.collect()}
    assert len(bulk) == 12
    for oid in ids:
        point = repo.load(oid, ORDERS_PARTITION_KEY)
        b = bulk[oid]
        assert b["name"] == point.name
        assert b["n_items"] == len(point.items)
        assert b["version"] == point.version
        assert b["total"] == float(
            sum((i.amount for i in point.items), decimal.Decimal(0))
        )


def test_fold_all_keys_streams_by_partition_too(spark, tmp_path):
    """The store keys a stream by (stream_id, partition_key): one id under
    two partition keys is two streams, and folds into two aggregates."""
    from tests.domain_fixtures import OrderPlaced

    store = ParquetEventStore(str(tmp_path / "events"))
    store.initialize()
    oid = "00000000-0000-0000-0000-0000000000aa"
    for pk in ("tenant-a", "tenant-b"):
        store.append_to_stream(
            USER, oid, 0,
            [OrderPlaced(aggregate_id=oid, partition_key=pk, order_name=pk)],
        )

    out = fold_all(
        store.to_df(spark),
        Order,
        lambda agg: {"name": agg.name, "version": agg.version},
        "name string, version long",
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        ("tenant-a", 1), ("tenant-b", 1),
    ]


def test_fold_all_applies_a_listed_twice_event_once(spark, tmp_path):
    """A compaction renames its snapshot in before it unlinks the sources,
    so `to_df` can list every event twice until the next maintenance."""
    store = ParquetEventStore(str(tmp_path / "events"))
    store.initialize()
    repo = AggregateRepository(store, Order)
    order = Order(
        "00000000-0000-0000-0000-0000000000bb", "Twice",
        [OrderItem(utcnow(), "Base", decimal.Decimal("10.00"))],
    )
    repo.save(USER, order)
    loaded = repo.load(order.id, ORDERS_PARTITION_KEY)
    loaded.add_item(OrderItem(utcnow(), "Extra", decimal.Decimal("1.50")))
    repo.save(USER, loaded)

    events = store.to_df(spark)
    out = fold_all(
        events.unionByName(events),
        Order,
        lambda agg: {"n_items": len(agg.items), "version": agg.version},
        "n_items long, version long",
    )
    assert [tuple(r) for r in out.collect()] == [(2, 2)]
