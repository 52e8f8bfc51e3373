"""The `append` workload's aggregate: an order that is placed with one item
and then grows item by item — the shape of the reference's
place-order-and-add-items scenario.  It runs on the driver only, so it
may live here rather than in the package."""

from __future__ import annotations

import dataclasses

from cloudfabric_eventsourcing_spark.domain import AggregateBase
from cloudfabric_eventsourcing_spark.eventstore import Event, register_event_type

ORDERS_PARTITION = "OrderEntity"


@register_event_type
@dataclasses.dataclass
class OrderPlaced(Event):
    order_name: str = ""
    items: list = dataclasses.field(default_factory=list)


@register_event_type
@dataclasses.dataclass
class OrderItemAdded(Event):
    item: dict = dataclasses.field(default_factory=dict)


class Order(AggregateBase):
    @property
    def partition_key(self) -> str:
        return ORDERS_PARTITION

    def __init__(self, events=None):
        self.name = ""
        self.items: list[dict] = []
        super().__init__(events)

    @classmethod
    def place(cls, order_id: str, name: str, first_item: dict) -> "Order":
        order = cls()
        order._id = order_id
        order.apply(OrderPlaced(order_name=name, items=[first_item]))
        return order

    def add_item(self, item: dict) -> None:
        self.apply(OrderItemAdded(item=item))

    def on_OrderPlaced(self, e: OrderPlaced) -> None:
        self._id = e.aggregate_id or self._id
        self.name = e.order_name
        self.items = list(e.items)

    def on_OrderItemAdded(self, e: OrderItemAdded) -> None:
        self.items.append(e.item)
