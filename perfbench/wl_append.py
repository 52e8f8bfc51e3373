"""`append`: the reference's place-order-and-add-items scenario through
``AggregateRepository`` on a ``ParquetEventStore`` — place an order, reload
it, add 100 items, save, reload.  No JVM is involved.  The store starts
empty and is never compacted, so the fragment count grows through the
run."""

from __future__ import annotations

import glob
import os

from perfbench import datagen
from perfbench.harness import OpFailure, median

USER = {"userId": "perfbench"}
WARMUP_SCENARIOS = 10


def run(ctx) -> dict:
    from cloudfabric_eventsourcing_spark.domain import AggregateRepository
    from cloudfabric_eventsourcing_spark.eventstore import ParquetEventStore

    from perfbench.domain import ORDERS_PARTITION, Order

    scenarios = datagen.order_scenarios(ctx.seed)

    def new_repo(name: str):
        s = ParquetEventStore(os.path.join(ctx.work, name))
        s.initialize()
        return s, AggregateRepository(s, Order)

    def scenario(repo, plan) -> dict:
        order = Order.place(plan["order_id"], plan["name"], plan["first"])
        repo.save(USER, order)
        loaded = repo.load(plan["order_id"], ORDERS_PARTITION)
        for item in plan["added"]:
            loaded.add_item(item)
        repo.save(USER, loaded)
        final = repo.load(plan["order_id"], ORDERS_PARTITION)
        return {"version": final.version, "items": final.items}

    def check(plan, got: dict) -> None:
        want_items = [plan["first"], *plan["added"]]
        if got["version"] != len(want_items) or got["items"] != want_items:
            raise OpFailure(
                f"order {plan['order_id']}: version {got['version']}, "
                f"{len(got['items'])} items; want {len(want_items)}"
            )

    # set-up: a warm store exercised by a few scenarios, then the empty
    # store the timed phase starts from
    def prepare():
        _, warm_repo = new_repo("warm")
        for _ in range(WARMUP_SCENARIOS):
            plan = next(scenarios)
            check(plan, scenario(warm_repo, plan))
        return new_repo("store")

    event_store, repo = ctx.setup.time("prepare", prepare)

    if ctx.tracer is not None:
        t = ctx.tracer
        t.wrap(AggregateRepository, "save", "domain.save")
        t.wrap(AggregateRepository, "load", "domain.load")
        t.wrap(ParquetEventStore, "append_to_stream", "eventstore.append")
        t.wrap(ParquetEventStore, "load_stream", "eventstore.load_stream")

    # the next op's inputs are drawn before the op starts; only the current
    # plan is kept, so memory does not grow with the op count
    plan: dict = {}

    def next_plan(i: int) -> None:
        plan.update(next(scenarios))

    def op(i: int) -> None:
        check(plan, scenario(repo, plan))

    ctx.log.timed(op, ctx.seconds, between=next_plan)

    files = glob.glob(os.path.join(event_store.path, "**", "*.parquet"), recursive=True)
    n_events = 101 * len(ctx.log.timed_records())  # placed + 100 added
    out = {
        "report": {"store_files_end": len(files), "events_appended": n_events},
    }
    if ctx.tracer is None:
        return out

    t = ctx.tracer
    timed = [r.index for r in ctx.log.timed_records()]
    decile = max(1, len(timed) // 10)
    out["layers"] = {
        "eventstore.append_ms_p50": median(t.durations_ms("eventstore.append", set(timed))),
        "eventstore.append_ms_first_decile": median(
            t.durations_ms("eventstore.append", set(timed[:decile]))),
        "eventstore.append_ms_last_decile": median(
            t.durations_ms("eventstore.append", set(timed[-decile:]))),
        "eventstore.load_stream_ms_p50": median(
            t.durations_ms("eventstore.load_stream", set(timed))),
        "eventstore.fragments_end": len(files),
        "eventstore.bytes_per_event": (
            sum(os.path.getsize(f) for f in files) / n_events if n_events else 0.0
        ),
        "domain.save_self_ms_p50": median(t.self_durations_ms("domain.save", set(timed))),
        "domain.load_self_ms_p50": median(t.self_durations_ms("domain.load", set(timed))),
    }
    return out
