"""Event store + aggregate round-trips over BOTH backends — the engine's
version of the reference's backend-parameterized differential suites
(OrderTests.cs:23-130, MetadataRepositoryTests.cs)."""

import datetime
import decimal
import os
import subprocess
import sys
import threading
import time

import pyarrow.compute as pc
import pytest

from cloudfabric_eventsourcing_spark.domain import AggregateRepository
from cloudfabric_eventsourcing_spark.eventstore import (
    InMemoryEventStore,
    InMemoryMetadataRepository,
    JsonFileMetadataRepository,
    OptimisticConcurrencyError,
    ParquetEventStore,
    StreamNotFoundError,
)
from tests.domain_fixtures import (
    ORDERS_PARTITION_KEY,
    Order,
    OrderItem,
    OrderPlaced,
    utcnow,
)

USER = {"userId": "11111111-1111-1111-1111-111111111111"}


@pytest.fixture(params=["memory", "parquet"])
def store(request, tmp_path):
    if request.param == "memory":
        s = InMemoryEventStore()
    else:
        s = ParquetEventStore(str(tmp_path / "events"))
    s.initialize()
    return s


def make_order(oid="2c55f399-0000-0000-0000-000000000001"):
    return Order(
        oid,
        "New Year's Gifts",
        [OrderItem(utcnow(), "Caverna", decimal.Decimal("12.00"))],
        created_by_email="john@gmail.com",
    )


def test_event_store_and_domain_import_no_spark():
    """The event store and the domain layer append and load without a
    JVM: importing them must not load pyspark (every pyspark import in
    them sits inside the function that needs it)."""
    code = (
        "import sys\n"
        "import cloudfabric_eventsourcing_spark.eventstore\n"
        "import cloudfabric_eventsourcing_spark.domain\n"
        "print(sorted(m for m in sys.modules if m.split('.')[0] == 'pyspark'))"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, check=True,
        capture_output=True, text=True,
    )
    assert out.stdout.strip() == "[]"


def test_aggregate_roundtrip(store):
    repo = AggregateRepository(store, Order)
    order = make_order()
    assert order.version == 0 and len(order.uncommitted_events) == 1
    repo.save(USER, order)
    assert order.version == 1 and not order.uncommitted_events

    loaded = repo.load(order.id, ORDERS_PARTITION_KEY)
    assert loaded is not None
    assert loaded.name == "New Year's Gifts"
    assert loaded.items[0].name == "Caverna"
    assert loaded.items[0].amount == decimal.Decimal("12.00")
    assert loaded.version == 1


def test_load_missing_returns_none_or_throws(store):
    repo = AggregateRepository(store, Order)
    assert repo.load("9e55f399-0000-0000-0000-00000000dead", "OrderEntity") is None
    with pytest.raises(StreamNotFoundError):
        store.load_stream_or_throw("9e55f399-0000-0000-0000-00000000dead", "OrderEntity")


def test_104_event_fold(store):
    # the benchmark scenario: place + add 100 items, reload, fold
    # (OrderTests.cs:72-130, Benchmark.cs:30-46)
    repo = AggregateRepository(store, Order)
    order = make_order()
    repo.save(USER, order)
    loaded = repo.load(order.id, ORDERS_PARTITION_KEY)
    for i in range(100):
        loaded.add_item(OrderItem(utcnow(), f"Eclipse-{i}", decimal.Decimal("6.95") + i))
    repo.save(USER, loaded)
    final = repo.load(order.id, ORDERS_PARTITION_KEY)
    assert final.version == 101
    assert len(final.items) == 101
    assert final.items[-1].name == "Eclipse-99"


def test_optimistic_concurrency_conflict(store):
    repo = AggregateRepository(store, Order)
    order = make_order()
    repo.save(USER, order)

    a = repo.load(order.id, ORDERS_PARTITION_KEY)
    b = repo.load(order.id, ORDERS_PARTITION_KEY)
    a.add_item(OrderItem(utcnow(), "Dixit", decimal.Decimal("6.59")))
    b.add_item(OrderItem(utcnow(), "Eclipse", decimal.Decimal("6.95")))
    repo.save(USER, a)
    with pytest.raises(OptimisticConcurrencyError):
        repo.save(USER, b)
    # loser reloads and retries — the reference contract
    b2 = repo.load(order.id, ORDERS_PARTITION_KEY)
    b2.add_item(OrderItem(utcnow(), "Eclipse", decimal.Decimal("6.95")))
    assert repo.save(USER, b2)
    assert len(repo.load(order.id, ORDERS_PARTITION_KEY).items) == 3


def test_concurrent_writers_serialize(store):
    # hammer one stream from 8 threads; exactly the winners' events land,
    # versions stay consecutive (PostgresqlEventStore.cs:386-409 semantics)
    repo = AggregateRepository(store, Order)
    order = make_order()
    repo.save(USER, order)
    success = []

    def writer(n):
        for _ in range(5):
            try:
                o = repo.load(order.id, ORDERS_PARTITION_KEY)
                o.add_item(OrderItem(utcnow(), f"t{n}", decimal.Decimal("1.00")))
                repo.save(USER, o)
                success.append(n)
                return
            except OptimisticConcurrencyError:
                continue

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    switch_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the writers' locked sections
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch_interval)
    assert not any(t.is_alive() for t in threads)
    stream = store.load_stream(order.id, ORDERS_PARTITION_KEY)
    assert stream.version == 1 + len(success)
    versions = [store.load_stream(order.id, ORDERS_PARTITION_KEY).version]
    assert versions[0] == stream.version


def test_load_stream_from_version(store):
    repo = AggregateRepository(store, Order)
    order = make_order()
    repo.save(USER, order)
    o = repo.load(order.id, ORDERS_PARTITION_KEY)
    for i in range(4):
        o.add_item(OrderItem(utcnow(), f"i{i}", decimal.Decimal("1.00")))
    repo.save(USER, o)
    partial = store.load_stream(order.id, ORDERS_PARTITION_KEY, from_version=3)
    assert [type(e).__name__ for e in partial.events] == ["OrderItemAdded"] * 3
    assert partial.version == 5


def test_load_events_cursor_and_limit(store):
    repo = AggregateRepository(store, Order)
    for i in range(3):
        repo.save(USER, make_order(f"2c55f399-0000-0000-0000-00000000000{i}"))
    all_events = store.load_events(ORDERS_PARTITION_KEY, limit=250)
    assert len(all_events) == 3
    # strict > cursor (PostgresqlEventStore.cs:319-322)
    after = store.load_events(ORDERS_PARTITION_KEY, date_from=all_events[0].timestamp)
    assert len(after) == len([e for e in all_events if e.timestamp > all_events[0].timestamp])
    limited = store.load_events(ORDERS_PARTITION_KEY, limit=2)
    assert len(limited) == 2


def test_load_events_empty_partition_key_is_a_partition(store):
    """`partition_key=""` selects the partition named "" (the default of
    `Event.partition_key`) on both backends; only None means every
    partition."""
    for pk in ("", "A"):
        ev = OrderPlaced(aggregate_id=f"x{pk}", partition_key=pk, order_name=pk)
        assert store.append_to_stream(USER, f"x{pk}", 0, [ev])
    assert [e.partition_key for e in store.load_events(partition_key="")] == [""]
    assert sorted(e.partition_key for e in store.load_events()) == ["", "A"]


def test_partition_key_mixing_rejected(store):
    ev1 = OrderPlaced(aggregate_id="x", partition_key="A", order_name="a")
    ev2 = OrderPlaced(aggregate_id="x", partition_key="B", order_name="b")
    with pytest.raises(ValueError):
        store.append_to_stream(USER, "x", 0, [ev1, ev2])


def test_statistics_and_deletes(store):
    repo = AggregateRepository(store, Order)
    o1 = make_order("2c55f399-0000-0000-0000-000000000011")
    o2 = make_order("2c55f399-0000-0000-0000-000000000012")
    repo.save(USER, o1)
    repo.save(USER, o2)
    stats = store.get_statistics()
    assert stats.total_events_count == 2
    assert stats.first_event_created_at <= stats.last_event_created_at

    assert store.hard_delete(o1.id, ORDERS_PARTITION_KEY) is True
    assert store.hard_delete(o1.id, ORDERS_PARTITION_KEY) is False
    assert store.load_stream(o1.id, ORDERS_PARTITION_KEY).events == []
    assert len(store.load_stream(o2.id, ORDERS_PARTITION_KEY).events) == 1

    store.delete_all()
    assert store.get_statistics().total_events_count == 0


def test_subscriber_push_on_append(store):
    seen = []
    store.subscribe(lambda e: seen.append(type(e).__name__))
    repo = AggregateRepository(store, Order)
    order = make_order()
    repo.save(USER, order)
    o = repo.load(order.id, ORDERS_PARTITION_KEY)
    o.add_item(OrderItem(utcnow(), "Dixit", decimal.Decimal("6.59")))
    repo.save(USER, o)
    assert seen == ["OrderPlaced", "OrderItemAdded"]


def test_natural_key_hash_stable():
    a = Order.hash_string_to_guid("john@gmail.com")
    b = Order.hash_string_to_guid("john@gmail.com")
    c = Order.hash_string_to_guid("will@gmail.com")
    assert a == b and a != c and len(a) == 36


def test_natural_key_hash_is_dotnet_xxh3_guid():
    """The reference derivation (AggregateBase.cs:70-80) is
    new Guid(XxHash128(utf8)): canonical XXH3-128 digest read through
    .NET's little-endian-first-three-fields Guid ctor.  Pin the empty
    input end-to-end: the canonical digest is the published
    99aa06d3014798d86001c324468d497f, and the Guid byte order is
    computable by hand from it."""
    from cloudfabric_eventsourcing_spark.functions import (
        hash_string_to_uuid,
    )

    assert (
        str(hash_string_to_uuid("")) == "d306aa99-4701-d898-6001-c324468d497f"
    )
    # legacy opt-in keeps the pre-round-9 ids resolvable
    legacy = hash_string_to_uuid("john@gmail.com", algorithm="sha256")
    assert legacy != hash_string_to_uuid("john@gmail.com")
    import hashlib
    import uuid

    assert legacy == uuid.UUID(
        bytes=hashlib.sha256(b"john@gmail.com").digest()[:16]
    )
    # ...and the switch is reachable from the AGGREGATE surface too —
    # per-call or per-class — so upgrading deployments keep old ids
    # without forking (r9 self-review)
    assert Order.hash_string_to_guid(
        "john@gmail.com", algorithm="sha256"
    ) == str(legacy)

    class LegacyOrder(Order):
        id_hash_algorithm = "sha256"

    assert LegacyOrder.hash_string_to_guid("john@gmail.com") == str(legacy)


def test_xxh3_128_canonical_vectors_and_length_classes():
    """XXH3-128 pins: the canonical empty-input digest (validates the
    192-byte kSecret + len-0 + avalanche chain) and one regression pin
    per length-class branch (1to3/4to8/9to16/17to128/129to240/long
    incl. the multi-block and partial-stripe boundaries).  The
    length-class constants are self-generated pins — stability, not
    external correctness; the module docstring states the honest
    validation scope."""
    from cloudfabric_eventsourcing_spark.functions.xxh3 import (
        xxh3_128,
        xxh3_128_canonical,
    )

    assert xxh3_128_canonical(b"").hex() == (
        "99aa06d3014798d86001c324468d497f"
    )
    pins = {
        1: "a6cd5e9392000f6ac44bdff4074eecdb",
        3: "e3b55f57945a17cf5f4299fc161c9cbb",
        4: "eb70bf5fc779e9e6a6111d53e80a3db5",
        8: "e1e4432a62217fe4cfd50c61c8bb98c1",
        9: "16c769d83e4aebce907931979dca3746",
        16: "72950631827607e2842812cc870dcae2",
        17: "685bc458b37d057fc06e233df7729217",
        128: "14792fc3af88dc6c05321a0b64d67b41",
        129: "dd5e74ac6b45f54ebc30b63382b09a3b",
        240: "65b5be86da5540e7c92b68e16f83bbb6",
        241: "1da1cb61bcb8a2a102e8cd95421c6d02",
        1023: "4325711b0ed4d742d3d91d80ac495685",
        1024: "d0ac1f7b93bf57b9e5d78bafa45b2aa5",
        1025: "2882ebca04ec915ce95c42288f28186e",
        2500: "7652685591d4127c76ebae7c9d5cdc5c",
    }
    for ln, want in pins.items():
        data = bytes(i % 251 for i in range(ln))
        assert xxh3_128_canonical(data).hex() == want, ln
    # digest halves must differ (catches a copy-paste low==high bug)
    lo, hi = xxh3_128(b"migrate-me@example.com")
    assert lo != hi


def test_xxh64_matches_the_jvm(spark):
    """The pure-Python XXH64 must agree with Spark's INDEPENDENT JVM
    xxhash64 (seed 42) across every branch of the algorithm — this is
    the in-container oracle that pins the helper layer (LE reads,
    wrap-around mul/add, rotations, avalanches) XXH3-128 is built
    from.  Known-answer pins for seed 0 guard the seed path the JVM
    check can't reach."""
    import random

    from pyspark.sql import functions as F

    from cloudfabric_eventsourcing_spark.functions.xxh3 import xxh64

    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"abc") == 0x44BC2CF5AD770999
    rng = random.Random(7)
    rows = [
        bytes(rng.randrange(256) for _ in range(ln))
        for ln in list(range(0, 40)) + [63, 64, 65, 100, 128, 255, 300]
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(rows)], "id int, data binary"
    )
    jvm = {
        r["id"]: r["h"]
        for r in df.select("id", F.xxhash64("data").alias("h")).collect()
    }
    for i, b in enumerate(rows):
        mine = xxh64(b, seed=42)
        if mine >= 1 << 63:
            mine -= 1 << 64  # JVM longs are signed
        assert mine == jvm[i], f"len {len(b)}"


def test_parquet_store_spark_view(spark, tmp_path):
    store = ParquetEventStore(str(tmp_path / "events"))
    store.initialize()
    repo = AggregateRepository(store, Order)
    for i in range(5):
        o = make_order(f"2c55f399-0000-0000-0000-0000000000{i:02d}")
        repo.save(USER, o)
    df = store.to_df(spark)
    assert df.count() == 5
    assert df.where("event_type = 'OrderPlaced'").count() == 5
    store.compact()
    assert store.to_df(spark).count() == 5
    assert len(store._fragments()) == 1


def test_metadata_repository(tmp_path):
    for repo in (
        InMemoryMetadataRepository(),
        JsonFileMetadataRepository(str(tmp_path / "meta.json")),
    ):
        item = {"name": "config", "nested": {"a": [1, 2, 3]}}
        repo.upsert_item("cfg", "P1", item)
        assert repo.load_item("cfg", "P1") == item
        assert repo.load_item("cfg", "P2") is None
        repo.upsert_item("cfg", "P1", {"name": "v2"})
        assert repo.load_item("cfg", "P1") == {"name": "v2"}


def test_metadata_cas_across_threads(tmp_path):
    """compare_and_upsert must be a real CAS across THREADS of one
    process, not just across processes: lockf record locks are owned
    per-process, so the pre-fix implementation let two threads both
    'acquire' the file lock and both win the same lease (r6 advice,
    metadata.py).  N threads CAS from the same expected value — exactly
    one may succeed; the survivors' increments must all land."""
    import threading

    for repo in (
        InMemoryMetadataRepository(),
        JsonFileMetadataRepository(str(tmp_path / "meta_cas.json")),
    ):
        repo.upsert_item("lease", "P1", {"owner": None, "v": 0})
        wins: list[str] = []
        barrier = threading.Barrier(8)

        def contend(name: str) -> None:
            barrier.wait()
            if repo.compare_and_upsert(
                "lease", "P1", {"owner": name, "v": 1}, {"owner": None, "v": 0}
            ):
                wins.append(name)

        threads = [
            threading.Thread(target=contend, args=(f"w{i}",)) for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(wins) == 1, f"{type(repo).__name__}: {wins} all won the CAS"
        assert repo.load_item("lease", "P1") == {"owner": wins[0], "v": 1}

        # read-modify-write upserts to DIFFERENT keys must not lose
        # updates either (the interleaved load/save hazard)
        def bump(key: str) -> None:
            for i in range(20):
                repo.upsert_item(f"{key}-{i}", "P2", i)

        threads = [
            threading.Thread(target=bump, args=(f"k{i}",)) for i in range(4)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for k in range(4):
            for i in range(20):
                assert repo.load_item(f"k{k}-{i}", "P2") == i


def test_hard_delete_order_via_repository(store):
    # port of OrderTests.TestHardDeleteOrder (:664-699): save, hard delete
    # through the aggregate repository, load returns None
    repo = AggregateRepository(store, Order)
    order = Order(
        "2c55f399-0000-0000-0000-0000000000fe",
        "Birthday Gift",
        [
            OrderItem(utcnow(), "Caverna", decimal.Decimal("12.00")),
            OrderItem(utcnow(), "Dixit", decimal.Decimal("6.59")),
            OrderItem(utcnow(), "Patchwork", decimal.Decimal("4.85")),
        ],
        created_by_email="john@gmail.com",
    )
    repo.save(USER, order)
    assert repo.load(order.id, ORDERS_PARTITION_KEY) is not None
    assert repo.hard_delete(order.id, ORDERS_PARTITION_KEY) is True
    assert repo.load(order.id, ORDERS_PARTITION_KEY) is None


# -- maintenance durability + lock liveness ---------------------------------

def _parquet_store(tmp_path):
    s = ParquetEventStore(str(tmp_path / "events"))
    s.initialize()
    return s


def _append_order(store, oid):
    repo = AggregateRepository(store, Order)
    repo.save(USER, make_order(oid))


def _lock_is_free(path):
    """True when nobody holds an flock on `path` (probe with LOCK_NB)."""
    import fcntl

    fd = os.open(path, os.O_WRONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        return True
    except BlockingIOError:
        return False
    finally:
        os.close(fd)


def _hold_lock_in_child(path):
    """Start a child process that flocks `path` and hangs; returns once
    the lock is held."""
    import subprocess

    child = subprocess.Popen(
        [sys.executable, "-c",
         f"import fcntl,os,time; fd = os.open({path!r}, os.O_CREAT|os.O_WRONLY); "
         "fcntl.flock(fd, fcntl.LOCK_EX); print('locked', flush=True); "
         "time.sleep(60)"],
        stdout=subprocess.PIPE,
    )
    assert child.stdout.readline().strip() == b"locked"
    return child


def test_compact_preserves_concurrent_append(tmp_path):
    """An append that commits between a rewrite's fragment capture and its
    unlink loop must survive (durability invariant: commit.replace_files
    only unlinks the list it was built from)."""
    import pyarrow.dataset as pa_ds
    import pyarrow.parquet as pq

    from cloudfabric_eventsourcing_spark import commit
    from cloudfabric_eventsourcing_spark.eventstore.store import _ARROW_SCHEMA

    store = _parquet_store(tmp_path)
    for i in range(3):
        _append_order(store, f"2c55f399-0000-0000-0000-00000000000{i}")
    frags = store._fragments()
    table = pa_ds.dataset(frags, schema=_ARROW_SCHEMA, format="parquet").to_table()
    # a concurrent writer lands a fragment AFTER the capture
    _append_order(store, "2c55f399-0000-0000-0000-000000000009")
    n_before = store.get_statistics().total_events_count
    commit.replace_files(
        store.path, frags,
        lambda staging: pq.write_table(table, os.path.join(staging, "s.parquet")),
    )
    assert store.get_statistics().total_events_count == n_before
    late = store.load_stream("2c55f399-0000-0000-0000-000000000009",
                             ORDERS_PARTITION_KEY)
    assert late.version == 1 and len(late.events) == 1


def test_compact_and_hard_delete_still_work(tmp_path):
    store = _parquet_store(tmp_path)
    for i in range(4):
        _append_order(store, f"2c55f399-0000-0000-0000-00000000000{i}")
    assert len(store._fragments()) == 4
    store.compact()
    assert len(store._fragments()) == 1
    assert store.get_statistics().total_events_count == 4
    assert store.hard_delete("2c55f399-0000-0000-0000-000000000000",
                             ORDERS_PARTITION_KEY) is True
    assert store.get_statistics().total_events_count == 3
    assert _lock_is_free(store._lock_path("maintenance"))


def test_swap_crash_is_repaired_before_next_maintenance(
    tmp_path, monkeypatch, caplog
):
    """A crash between commit.replace_files' snapshot rename and its
    fragment unlinks must not let the NEXT compact() bake the duplicate
    rows in — and for a crashed hard_delete, must not resurrect the
    deleted stream into the compacted output.  The intent marker makes
    the half-finished swap roll forward at the next maintenance op."""
    import logging

    from cloudfabric_eventsourcing_spark import commit

    store = _parquet_store(tmp_path)
    for i in range(4):
        _append_order(store, f"2c55f399-0000-0000-0000-00000000000{i}")
    doomed = "2c55f399-0000-0000-0000-000000000000"
    n_total = store.get_statistics().total_events_count
    survivor = "2c55f399-0000-0000-0000-000000000001"
    survivor_before = store.load_stream(survivor, ORDERS_PARTITION_KEY)

    # crash simulation: the first fragment unlink during hard_delete's
    # swap raises — snapshot (without the doomed stream) and marker are
    # in place, the original fragments are not gone
    real_unlink = os.unlink

    def crashing_unlink(p):
        base = os.path.basename(p)
        if base.startswith("part-") and not base.endswith(
            "-compacted.parquet"
        ):
            raise OSError("simulated crash")
        real_unlink(p)

    marker = os.path.join(store.path, commit._MARKER)
    monkeypatch.setattr(commit.os, "unlink", crashing_unlink)
    with pytest.raises(OSError, match="simulated crash"):
        store.hard_delete(doomed, ORDERS_PARTITION_KEY)
    monkeypatch.setattr(commit.os, "unlink", real_unlink)
    assert os.path.exists(marker)

    # mid-crash reads stay correct: per-stream loads dedupe the
    # transient duplicate rows, so the stream looks exactly as before
    s1 = store.load_stream(survivor, ORDERS_PARTITION_KEY)
    assert s1.version == survivor_before.version
    assert len(s1.events) == len(survivor_before.events)

    # the next maintenance op repairs the swap FIRST, and says so: the
    # compacted store holds each surviving event exactly once and the
    # hard-deleted stream stays gone
    with caplog.at_level(logging.WARNING, logger=commit.__name__):
        store.compact()
    assert "repairing an interrupted swap" in caplog.text
    assert not os.path.exists(marker)
    assert len(store._fragments()) == 1
    per_stream = n_total // 4
    assert store.get_statistics().total_events_count == n_total - per_stream
    assert (
        store.load_stream(doomed, ORDERS_PARTITION_KEY).version == 0
    )


def test_unheld_lock_file_never_blocks(tmp_path):
    """Lock files persist after release; a file nobody holds (left by an
    earlier writer, crashed or not) never delays an append or a
    maintenance op."""
    store = _parquet_store(tmp_path)
    oid = "2c55f399-0000-0000-0000-000000000001"
    for path in (store._stream_lock_path(oid, ORDERS_PARTITION_KEY),
                 store._lock_path("maintenance")):
        open(path, "w").close()
    t0 = time.monotonic()
    _append_order(store, oid)
    store.compact()
    assert time.monotonic() - t0 < 5
    assert store.load_stream(oid, ORDERS_PARTITION_KEY).version == 1


def test_fresh_lock_is_respected(tmp_path, caplog):
    """A held lock — the stream's commit lock or the maintenance lock —
    makes a contender wait and then time out, with a warning logged."""
    import logging

    from cloudfabric_eventsourcing_spark.eventstore.locking import exclusive_lock

    store = _parquet_store(tmp_path)
    store.LOCK_TIMEOUT_S = 0.3  # fail fast for the test
    oid = "2c55f399-0000-0000-0000-000000000001"
    commit_lock = store._stream_lock_path(oid, ORDERS_PARTITION_KEY)
    with caplog.at_level(logging.WARNING):
        with exclusive_lock(commit_lock, 1.0):
            with pytest.raises(TimeoutError):
                _append_order(store, oid)
        with exclusive_lock(store._lock_path("maintenance"), 1.0):
            with pytest.raises(TimeoutError):
                store.compact()
    assert caplog.text.count("still held after") == 2
    _append_order(store, oid)  # released on exit: the append goes through
    assert store.load_stream(oid, ORDERS_PARTITION_KEY).version == 1


def test_stale_maintenance_lock_does_not_block_appends(tmp_path):
    """A maintenance process killed mid-op leaves no stale lock: the
    kernel frees it at once, so the next append and the next maintenance
    op both run without waiting."""
    import signal

    store = _parquet_store(tmp_path)
    store.LOCK_TIMEOUT_S = 2.0
    maint_lock = store._lock_path("maintenance")
    child = _hold_lock_in_child(maint_lock)
    assert not _lock_is_free(maint_lock)
    child.send_signal(signal.SIGKILL)  # crash mid-maintenance
    child.communicate()  # reaps the child and closes its stdout pipe
    assert _lock_is_free(maint_lock)
    _append_order(store, "2c55f399-0000-0000-0000-000000000002")
    _append_order(store, "2c55f399-0000-0000-0000-000000000003")
    store.compact()
    assert len(store._fragments()) == 1
    assert store.get_statistics().total_events_count == 2


def test_killed_writer_lock_recovered_by_second_writer(tmp_path):
    """A writer PROCESS dies while holding the commit lock; a second
    writer in another process succeeds at once — the kernel released the
    lock with the dead process (reference: Postgres row locks die with
    the writer)."""
    import signal

    store = _parquet_store(tmp_path)
    store.LOCK_TIMEOUT_S = 2.0
    oid = "2c55f399-0000-0000-0000-000000000001"
    commit_lock = store._stream_lock_path(oid, ORDERS_PARTITION_KEY)
    child = _hold_lock_in_child(commit_lock)
    child.send_signal(signal.SIGKILL)  # crash mid-append
    child.communicate()  # reaps the child and closes its stdout pipe
    assert _lock_is_free(commit_lock)
    t0 = time.monotonic()
    _append_order(store, oid)
    assert time.monotonic() - t0 < 1
    assert store.load_stream(oid, ORDERS_PARTITION_KEY).version == 1


def test_slow_locked_section_is_not_raced(tmp_path, monkeypatch):
    """A writer whose locked section runs long keeps the stream: a second
    store on the same directory waits for it, then fails the version
    check, and the stream holds exactly one event.  The former lease
    protocol stole any lock older than its stale TTL (set to 0.3 s here,
    where that attribute still exists), so both writers committed
    version 1 and load_stream silently dropped one of the two events."""
    monkeypatch.setattr(ParquetEventStore, "LOCK_STALE_S", 0.3, raising=False)
    store_a = _parquet_store(tmp_path)
    store_b = ParquetEventStore(store_a.path)
    oid = "2c55f399-0000-0000-0000-000000000001"
    in_section = threading.Event()
    real_refresh = store_a._refresh_version_cache

    def slow_refresh():
        in_section.set()
        time.sleep(0.8)
        real_refresh()

    monkeypatch.setattr(store_a, "_refresh_version_cache", slow_refresh)
    writer_a = threading.Thread(target=_append_order, args=(store_a, oid))
    writer_a.start()
    assert in_section.wait(5)
    with pytest.raises(OptimisticConcurrencyError):
        _append_order(store_b, oid)
    writer_a.join(timeout=10)
    assert not writer_a.is_alive()
    stream = ParquetEventStore(store_a.path).load_stream(oid, ORDERS_PARTITION_KEY)
    assert stream.version == 1 and len(stream.events) == 1
    assert store_a.get_statistics().total_events_count == 1


_CONTENTION_WORKER = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from cloudfabric_eventsourcing_spark.eventstore import (
    OptimisticConcurrencyError, ParquetEventStore)
from tests.domain_fixtures import ORDERS_PARTITION_KEY, OrderItemAdded

store_path, worker, n_appends, n_streams = sys.argv[2], *map(int, sys.argv[3:6])
store = ParquetEventStore(store_path)
store.initialize()
print("ready", flush=True)
sys.stdin.readline()  # start line: every worker begins together
committed, conflicts = 0, 0
for i in range(n_appends):
    sid = f"2c55f399-0000-0000-0000-{(worker + i) % n_streams:012d}"
    while True:
        version = store.load_stream(sid, ORDERS_PARTITION_KEY).version
        event = OrderItemAdded(
            partition_key=ORDERS_PARTITION_KEY, item={"by": worker, "n": i})
        try:
            store.append_to_stream({"userId": "w"}, sid, version, [event])
            committed += 1
            break
        except OptimisticConcurrencyError:
            conflicts += 1
    if worker == 0 and i == n_appends // 2:
        store.compact()
print(json.dumps({"committed": committed, "conflicts": conflicts}), flush=True)
"""


def test_multiprocess_contention_with_compaction(tmp_path):
    """4 processes, each with its own store on one directory, append with
    optimistic-concurrency retry to 4 shared streams while one of them
    compacts mid-run: every stream's versions are exactly 1..N with no
    duplicates, and the store holds one event per successful append."""
    import json
    import subprocess

    store = _parquet_store(tmp_path)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    n_workers, n_appends, n_streams = 4, 40, 4
    workers = [
        subprocess.Popen(
            [sys.executable, "-c", _CONTENTION_WORKER, root, store.path,
             str(w), str(n_appends), str(n_streams)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        for w in range(n_workers)
    ]
    for p in workers:
        assert p.stdout.readline().strip() == "ready"
    for p in workers:
        p.stdin.write("go\n")
        p.stdin.flush()
    results = []
    for p in workers:
        out, _ = p.communicate(timeout=60)
        assert p.returncode == 0
        results.append(json.loads(out))
    committed = sum(r["committed"] for r in results)
    assert committed == n_workers * n_appends
    assert sum(r["conflicts"] for r in results) > 0  # the streams were contended

    reader = ParquetEventStore(store.path)
    total = 0
    for s in range(n_streams):
        sid = f"2c55f399-0000-0000-0000-{s:012d}"
        versions = reader._scan(
            pc.field("stream_id") == sid, columns=["stream_version"]
        )["stream_version"].to_pylist()
        assert sorted(versions) == list(range(1, len(versions) + 1)), sid
        assert reader.load_stream(sid, ORDERS_PARTITION_KEY).version == len(versions)
        total += len(versions)
    assert total == committed == reader.get_statistics().total_events_count
    assert len(reader._fragments()) < committed  # the compaction ran


def test_reader_dedupes_compaction_swap_window(tmp_path):
    """Mid-swap (snapshot published, sources not yet unlinked) every event
    is on disk twice; rehydration and the chronological feed must not apply
    duplicates."""
    import pyarrow.dataset as pa_ds
    from cloudfabric_eventsourcing_spark.eventstore.store import _ARROW_SCHEMA

    store = _parquet_store(tmp_path)
    oid = "2c55f399-0000-0000-0000-000000000001"
    _append_order(store, oid)
    _append_order(store, "2c55f399-0000-0000-0000-000000000002")
    frags = store._fragments()
    table = pa_ds.dataset(frags, schema=_ARROW_SCHEMA, format="parquet").to_table()
    # freeze the swap at its dangerous instant: snapshot written, sources kept
    import pyarrow.parquet as pq

    dup = os.path.join(store.path, f"part-{10**19}-compacted.parquet")
    pq.write_table(table, dup)
    store._invalidate_version_cache()

    stream = store.load_stream(oid, ORDERS_PARTITION_KEY)
    assert stream.version == 1
    assert len(stream.events) == 1  # not 2: duplicate version dropped
    feed = store.load_events()
    assert len(feed) == 2  # one per order, duplicates collapsed by event id
    repo = AggregateRepository(store, Order)
    loaded = repo.load(oid, ORDERS_PARTITION_KEY)
    assert len(loaded.items) == 1  # double-apply would duplicate the item


# ---- aggregate snapshots (declared-but-dead in the reference) -------------

def test_snapshot_load_equals_full_refold(store, tmp_path):
    from cloudfabric_eventsourcing_spark.eventstore import JsonFileSnapshotStore

    snaps = JsonFileSnapshotStore(str(tmp_path / "snaps"))
    repo = AggregateRepository(store, Order, snapshot_store=snaps, snapshot_every=50)
    plain = AggregateRepository(store, Order)
    order = make_order()
    repo.save(USER, order)
    loaded = repo.load(order.id, ORDERS_PARTITION_KEY)
    for i in range(120):
        loaded.add_item(OrderItem(utcnow(), f"Item-{i}", decimal.Decimal("1.50") + i))
    repo.save(USER, loaded)  # crosses 50 and 100 -> snapshot at v121
    snap = snaps.load(ORDERS_PARTITION_KEY, order.id)
    assert snap is not None and snap["version"] == 121

    via_snap = repo.load(order.id, ORDERS_PARTITION_KEY)
    via_fold = plain.load(order.id, ORDERS_PARTITION_KEY)
    assert via_snap.version == via_fold.version == 121
    assert via_snap.name == via_fold.name
    assert [ (i.name, i.amount) for i in via_snap.items ] == [
        (i.name, i.amount) for i in via_fold.items
    ]
    # the snapshot-loaded aggregate keeps working: mutate, save, reload
    via_snap.add_item(OrderItem(utcnow(), "post-snap", decimal.Decimal("9.99")))
    assert repo.save(USER, via_snap)
    assert plain.load(order.id, ORDERS_PARTITION_KEY).version == 122


def test_snapshot_load_reads_only_tail(store, tmp_path):
    from cloudfabric_eventsourcing_spark.eventstore import JsonFileSnapshotStore

    snaps = JsonFileSnapshotStore(str(tmp_path / "snaps"))
    repo = AggregateRepository(store, Order, snapshot_store=snaps, snapshot_every=10)
    order = make_order()
    repo.save(USER, order)
    loaded = repo.load(order.id, ORDERS_PARTITION_KEY)
    for i in range(30):
        loaded.add_item(OrderItem(utcnow(), f"I{i}", decimal.Decimal("1.00")))
    repo.save(USER, loaded)  # snapshot at v31
    # two more events past the snapshot
    tail_writer = repo.load(order.id, ORDERS_PARTITION_KEY)
    tail_writer.add_item(OrderItem(utcnow(), "tail-1", decimal.Decimal("2.00")))
    tail_writer.add_item(OrderItem(utcnow(), "tail-2", decimal.Decimal("2.00")))
    repo.save(USER, tail_writer)

    seen = []
    orig = store.load_stream

    def spying(stream_id, partition_key, from_version=None):
        seen.append(from_version)
        return orig(stream_id, partition_key, from_version)

    store.load_stream = spying
    got = repo.load(order.id, ORDERS_PARTITION_KEY)
    store.load_stream = orig
    assert got.version == 33 and got.items[-1].name == "tail-2"
    # the load asked the store for the tail only, starting AT the
    # snapshot version (the first event doubles as the stream-existence
    # witness so a stale snapshot cannot resurrect a deleted stream)
    assert seen == [31]


def test_snapshot_deleted_with_stream(store, tmp_path):
    from cloudfabric_eventsourcing_spark.eventstore import JsonFileSnapshotStore

    snaps = JsonFileSnapshotStore(str(tmp_path / "snaps"))
    repo = AggregateRepository(store, Order, snapshot_store=snaps, snapshot_every=1)
    order = make_order()
    repo.save(USER, order)
    assert snaps.load(ORDERS_PARTITION_KEY, order.id) is not None
    repo.hard_delete(order.id, ORDERS_PARTITION_KEY)
    assert snaps.load(ORDERS_PARTITION_KEY, order.id) is None
    assert repo.load(order.id, ORDERS_PARTITION_KEY) is None


def test_stale_snapshot_cannot_resurrect_deleted_stream(store, tmp_path):
    """A snapshot that outlives its stream (store cleared behind the
    repository's back) must NOT resurrect the aggregate: the tail read
    at the snapshot version is the existence witness."""
    from cloudfabric_eventsourcing_spark.eventstore import JsonFileSnapshotStore

    snaps = JsonFileSnapshotStore(str(tmp_path / "snaps"))
    repo = AggregateRepository(store, Order, snapshot_store=snaps, snapshot_every=1)
    order = make_order()
    repo.save(USER, order)
    assert snaps.load(ORDERS_PARTITION_KEY, order.id) is not None
    # delete the STREAM only (simulates delete_all / out-of-band cleanup)
    store.hard_delete(order.id, ORDERS_PARTITION_KEY)
    assert repo.load(order.id, ORDERS_PARTITION_KEY) is None
    with pytest.raises(StreamNotFoundError):
        repo.load_or_throw(order.id, ORDERS_PARTITION_KEY)
