"""ParquetProjectionRepository.query: the total observed on the page job,
the snapshot read with a recorded schema, the query's Spark job
description, readers racing concurrent publishes, and two repository
instances racing a read-modify-write."""

import datetime
import decimal
import glob
import os
import random
import threading
import time
import uuid

import pytest
from pyspark.sql import functions as F

from cloudfabric_eventsourcing_spark import commit
from cloudfabric_eventsourcing_spark.benchmarks import (
    BENCH_PARTITION,
    BenchUserStatsBuilder,
    BenchValueEvent,
    bench_schema,
)
from cloudfabric_eventsourcing_spark.eventstore import (
    InMemoryMetadataRepository,
    ParquetEventStore,
)
from cloudfabric_eventsourcing_spark.plans.translator import (
    filter_to_column,
    run_query,
    search_to_column,
)
from cloudfabric_eventsourcing_spark.projections import (
    IndexSelector,
    InMemoryProjectionRepository,
    ParquetProjectionRepository,
    ProjectionIndexStateStore,
    ProjectionsEngine,
    repository,
)
from cloudfabric_eventsourcing_spark.projections.distributed import (
    fold_builder_documents,
)
from cloudfabric_eventsourcing_spark.queries import (
    FacetInfoRequest,
    P,
    ProjectionQuery,
    SortInfo,
)
from cloudfabric_eventsourcing_spark.streaming import SparkStreamingProjectionsObserver
from cloudfabric_eventsourcing_spark.schema import (
    ARRAY,
    DATETIME,
    DECIMAL,
    INT64,
    OBJECT,
    STRING,
    ProjectionSchema,
    PropertySchema,
)

SCHEMA = ProjectionSchema(
    "query_docs",
    [
        PropertySchema("Id", STRING, is_key=True, is_sortable=True),
        PropertySchema("PartitionKey", STRING, is_filterable=True),
        PropertySchema("Name", STRING, is_searchable=True, is_filterable=True),
        PropertySchema("Rank", INT64, is_filterable=True, is_sortable=True,
                       is_facetable=True),
        PropertySchema("Price", DECIMAL, is_filterable=True),
        PropertySchema("UpdatedAt", DATETIME, is_filterable=True, is_sortable=True),
        PropertySchema("Owner", OBJECT, nested_properties=[
            PropertySchema("Email", STRING, is_searchable=True),
            PropertySchema("Since", DATETIME),
        ]),
        PropertySchema("Items", ARRAY, nested_properties=[
            PropertySchema("Sku", STRING, is_filterable=True),
            PropertySchema("Amount", DECIMAL),
            PropertySchema("AddedAt", DATETIME),
        ]),
    ],
)
WORDS = ("red apple", "green apple", "red pear", "blue plum")


def _doc(i: int) -> dict:
    at = datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i)
    return {
        "Id": f"d{i:03d}",
        "PartitionKey": "even" if i % 2 == 0 else "odd",
        "Name": WORDS[i % len(WORDS)],
        "Rank": i % 7,
        "Price": decimal.Decimal(i) / 4,
        "UpdatedAt": at,
        "Owner": {"Email": f"u{i % 3}@x.io", "Since": at},
        "Items": [{"Sku": f"s{j}", "Amount": decimal.Decimal(j), "AddedAt": at}
                  for j in range(i % 3)],
    }


DOCS = [_doc(i) for i in range(40)]


def _repo(spark, tmp_path) -> ParquetProjectionRepository:
    state = ProjectionIndexStateStore(InMemoryMetadataRepository())
    repo = ParquetProjectionRepository(SCHEMA, state, str(tmp_path), spark=spark)
    repo.ensure_index()
    state.update_rebuild_progress(
        SCHEMA.schema_name, SCHEMA.index_name(), 0, completed=True
    )
    return repo


def _spark_repo(spark, tmp_path, parts: int = 4) -> ParquetProjectionRepository:
    """A repository whose snapshot the Spark path wrote as `parts` files."""
    repo = _repo(spark, tmp_path)
    repo.overwrite_from_df(
        spark.createDataFrame(DOCS, SCHEMA.to_struct_type()).repartition(parts)
    )
    return repo


def _pyarrow_repo(spark, tmp_path) -> ParquetProjectionRepository:
    repo = _repo(spark, tmp_path)
    for pk in ("even", "odd"):
        repo.upsert_batch([d for d in DOCS if d["PartitionKey"] == pk], pk,
                          updated_at=DOCS[0]["UpdatedAt"])
    return repo


def _snapshot(repo) -> str:
    return commit.latest(repo._dir(SCHEMA.index_name()))


def _jobs(spark, fn) -> int:
    """Spark jobs `fn` submits, counted by a job group of its own."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sorted_query_runs_one_spark_job(spark, tmp_path):
    repo = _spark_repo(spark, tmp_path)
    sorted_q = ProjectionQuery(filters=[P("Rank") > 2],
                               order_by=[SortInfo("Id")], limit=5)
    relevance_q = ProjectionQuery(search_text="apple", search_mode="tokenized",
                                  scoring_profile="tf", limit=5)
    faceted_q = ProjectionQuery(filters=[P("Rank") > 2], order_by=[SortInfo("Id")],
                                limit=5,
                                facet_info_to_return=[FacetInfoRequest("Rank")])
    repo.query(faceted_q)  # the first read of a fresh session may plan slower
    assert _jobs(spark, lambda: repo.query(sorted_q)) == 1
    assert _jobs(spark, lambda: repo.query(relevance_q)) == 1
    assert _jobs(spark, lambda: repo.query(faceted_q)) <= 3


CASES = {
    "sorted": (ProjectionQuery(filters=[P("Rank") > 2], order_by=[SortInfo("Id")],
                               limit=5), None),
    "zero_term_search": (ProjectionQuery(search_text="!!!", analyzer="standard",
                                         order_by=[SortInfo("Id")], limit=5), None),
    "offset_past_total": (ProjectionQuery(order_by=[SortInfo("Id")], offset=1000,
                                          limit=5), None),
    "partition_key": (ProjectionQuery(filters=[P("Rank") < 5],
                                      order_by=[SortInfo("UpdatedAt", "desc")],
                                      limit=3), "odd"),
    "relevance_sort": (ProjectionQuery(search_text="red apple",
                                       search_mode="tokenized",
                                       scoring_profile="tf", limit=4), None),
    "sorted_unlimited": (ProjectionQuery(filters=[P("Rank") > 2],
                                         order_by=[SortInfo("Rank", "desc")],
                                         offset=2), None),
    "deep_page": (ProjectionQuery(order_by=[SortInfo("UpdatedAt"), SortInfo("Id")],
                                  offset=17, limit=5), None),
    "unsorted_limited": (ProjectionQuery(filters=[P("Rank") >= 1], limit=3), None),
    "unsorted_unlimited": (ProjectionQuery(filters=[P("Rank") >= 1], offset=2),
                           None),
}


def _filtered_count(repo, query, partition_key) -> int:
    df = repo.to_df()
    if partition_key is not None:
        df = df.where(df["PartitionKey"] == partition_key)
    for f in query.filters:
        df = df.where(filter_to_column(f, SCHEMA))
    search = search_to_column(query.search_text, SCHEMA, query.search_mode,
                              query.analyzer)
    if search is not None:
        df = df.where(search)
    return df.count()


@pytest.mark.parametrize("case", sorted(CASES))
def test_observed_total_equals_filtered_count(spark, tmp_path, case):
    query, partition_key = CASES[case]
    repo = _spark_repo(spark, tmp_path)
    assert len(glob.glob(os.path.join(_snapshot(repo), "part-*.parquet"))) >= 4
    res = repo.query(query, partition_key=partition_key)
    want = _filtered_count(repo, query, partition_key)
    assert res.total_records_found == want
    expected_page = min(query.limit or want, max(want - query.offset, 0))
    assert len(res.records) == expected_page
    if case == "zero_term_search":
        assert want == 0


@pytest.mark.parametrize("order", ["global", "within_partitions"])
def test_total_over_an_input_already_in_page_order(spark, tmp_path, order):
    df = _spark_repo(spark, tmp_path).to_df()
    # the page sorts ascending with nulls last
    key = F.col("Id").asc_nulls_last()
    df = df.orderBy(key) if order == "global" else df.sortWithinPartitions(key)
    res = run_query(df, ProjectionQuery(order_by=[SortInfo("Id")], limit=2), SCHEMA)
    assert res.total_records_found == len(DOCS)
    assert [r.document["Id"] for r in res.records] == ["d000", "d001"]


def test_observed_total_on_an_empty_snapshot(spark, tmp_path):
    repo = _pyarrow_repo(spark, tmp_path)
    repo.delete_all()
    assert _snapshot(repo) is not None
    res = repo.query(ProjectionQuery(order_by=[SortInfo("Id")], limit=5))
    assert (res.total_records_found, res.records) == (0, [])


@pytest.mark.parametrize("write", [_spark_repo, _pyarrow_repo])
def test_recorded_schema_read_equals_inferred_read(spark, tmp_path, write):
    repo = write(spark, tmp_path)
    path = _snapshot(repo)
    assert path in repo._snapshot_structs
    recorded = _jobs(spark, repo.to_df)
    cached, inferred = repo.to_df(), spark.read.parquet(path)
    assert recorded == 0
    assert cached.schema == inferred.schema
    assert sorted(cached.collect(), key=lambda r: r["Id"]) == sorted(
        inferred.collect(), key=lambda r: r["Id"]
    )


def test_publish_prunes_the_retired_snapshot_schema(spark, tmp_path, monkeypatch):
    repo = _pyarrow_repo(spark, tmp_path)
    old = _snapshot(repo)
    repo.upsert(dict(DOCS[0], Rank=99), "even")
    # superseded but inside the retention: kept, schema and all
    assert os.path.exists(old) and old in repo._snapshot_structs
    monkeypatch.setattr(commit, "RETENTION_S", 0)
    repo.upsert(dict(DOCS[0], Rank=98), "even")
    assert not os.path.exists(old)
    assert old not in repo._snapshot_structs
    assert _snapshot(repo) in repo._snapshot_structs


def test_query_answers_from_the_snapshot_it_resolved(spark, tmp_path, monkeypatch):
    repo = _pyarrow_repo(spark, tmp_path)
    run_query = repository.spark_run_query
    published = []

    def publish_first(*args, **kwargs):
        if not published:
            published.append(_snapshot(repo))
            repo._upsert_batch(SCHEMA.index_name(),
                               [dict(DOCS[1], Rank=99, PartitionKey="odd")])
        return run_query(*args, **kwargs)

    monkeypatch.setattr(repository, "spark_run_query", publish_first)
    query = ProjectionQuery(filters=[P("Rank") == 99], order_by=[SortInfo("Id")])
    res = repo.query(query)
    # the publish landed after the query resolved its snapshot: the query
    # reads that snapshot to the end, and the publish kept it on disk
    assert (res.records, res.total_records_found) == ([], 0)
    assert os.path.exists(published[0]) and _snapshot(repo) != published[0]
    res = repo.query(query)
    assert [r.document["Id"] for r in res.records] == ["d001"]
    assert res.total_records_found == 1


def test_an_empty_upsert_batch_keeps_every_document(spark, tmp_path):
    repo = _pyarrow_repo(spark, tmp_path)
    repo.upsert_batch([], "even")
    assert repo.to_df().count() == len(DOCS)


@pytest.mark.parametrize("write", [
    lambda repo: repo.upsert_batch([], "even"),
    lambda repo: repo.delete("absent", "even"),
    lambda repo: repo.delete_all("absent"),
], ids=["empty_upsert", "absent_key", "absent_partition"])
def test_a_write_that_changes_nothing_publishes_nothing(tmp_path, write):
    """No snapshot copy for a no-op write (each would also stay on disk
    for the retention); pyarrow-only, so no SparkSession."""
    repo = _pyarrow_repo(None, tmp_path)
    index_dir = repo._dir(SCHEMA.index_name())

    def snapshots():
        return commit.latest(index_dir), sorted(glob.glob(f"{index_dir}/snapshot-*.dir"))

    before = snapshots()
    write(repo)
    assert snapshots() == before


@pytest.mark.parametrize("write", [_spark_repo, _pyarrow_repo])
def test_a_held_frame_reads_its_snapshot_across_a_publish(spark, tmp_path, write):
    repo = write(spark, tmp_path)
    held = repo.to_df()
    repo.upsert(dict(DOCS[0], Id="new"), "even")
    assert held.count() == len(DOCS)
    assert repo.to_df().count() == len(DOCS) + 1


def _merge(repo, doc):
    struct = SCHEMA.to_struct_type()
    repo.merge_from_df(repo.spark.createDataFrame([doc], struct))



def test_a_merge_of_local_documents_applies_its_tombstones(spark, tmp_path):
    """A `createDataFrame` frame, whose size Catalyst does not know, with a
    tombstone column MERGEs into a four-file snapshot: one document
    changed, one deleted, one added, every other one kept."""
    repo = _spark_repo(spark, tmp_path)
    struct = SCHEMA.to_struct_type().add("Deleted", "boolean")
    rows = [
        dict(DOCS[1], Name="renamed", Deleted=False),
        dict(DOCS[2], Deleted=True),
        dict(_doc(99), Deleted=False),
    ]
    repo.merge_from_df(spark.createDataFrame(rows, struct), tombstone_col="Deleted")
    names = {r["Id"]: r["Name"] for r in repo.to_df().collect()}
    assert len(names) == len(DOCS)
    assert "d002" not in names
    assert (names["d001"], names["d099"]) == ("renamed", _doc(99)["Name"])


def test_a_merged_snapshot_holds_only_data_files(spark, tmp_path):
    """A MERGE-published snapshot is its `part-*` files and their `.crc`
    side files: no `_SUCCESS` marker, since the publish rename is the
    commit."""
    repo = _spark_repo(spark, tmp_path)
    _merge(repo, dict(DOCS[1], Name="renamed"))
    names = sorted(os.listdir(_snapshot(repo)))
    data = [n for n in names if n.startswith("part-")]
    assert data and names == sorted(data + [f".{n}.crc" for n in data])


def test_every_write_path_returns_the_same_raw_document(spark, tmp_path):
    """single() returns one raw document whichever path wrote it: a Spark
    MERGE (timestamps nested in a struct and in an array of structs
    included), the pyarrow upsert and the in-memory repository."""
    doc = DOCS[5]
    merged = _repo(spark, tmp_path / "merge")
    _merge(merged, doc)
    upserted = _repo(spark, tmp_path / "upsert")
    in_memory = InMemoryProjectionRepository(SCHEMA, upserted.state_store)
    for repo in (upserted, in_memory):
        repo.upsert_batch([doc], doc["PartitionKey"], updated_at=doc["UpdatedAt"])
    got = [
        repo.single(doc["Id"], doc["PartitionKey"])
        for repo in (merged, upserted, in_memory)
    ]
    assert got == [doc] * 3
    assert len(doc["Items"]) == 2 and doc["Owner"]["Since"].tzinfo is None


@pytest.mark.parametrize("hook,write", [
    ("_read", lambda repo, doc: repo.upsert(doc, doc["PartitionKey"])),
    ("_spark_read", _merge),
], ids=["upsert", "merge_from_df"])
def test_two_instances_never_lose_an_update(spark, tmp_path, monkeypatch, hook, write):
    """Two repositories on one base path: the second reads the snapshot,
    the first publishes, then the second publishes on what it read.
    The second must conflict, not drop the first's document."""
    first = _repo(spark, tmp_path)
    second = ParquetProjectionRepository(
        SCHEMA, first.state_store, str(tmp_path), spark=spark
    )
    write(first, DOCS[0])
    read, raced = getattr(second, hook), []

    def read_then_race(*args, **kwargs):
        out = read(*args, **kwargs)
        if not raced:
            raced.append(True)
            write(first, DOCS[2])
        return out

    monkeypatch.setattr(second, hook, read_then_race)
    conflicts = 0
    try:
        write(second, DOCS[4])
    except commit.SnapshotConflictError:
        conflicts += 1
        write(second, DOCS[4])  # re-read and retry
    ids = sorted(r["Id"] for r in first.to_df().collect())
    assert ids == ["d000", "d002", "d004"]
    assert conflicts == 1


def test_readers_never_fail_during_a_live_merge(spark, tmp_path):
    """The observer MERGEs a 50 ms trigger's worth of appends while
    readers loop over query() and to_df().count(); no read may fail, and
    the drained projection equals a full rebuild."""
    rng = random.Random(7)
    store = ParquetEventStore(str(tmp_path / "events"))
    store.initialize()
    state = ProjectionIndexStateStore(InMemoryMetadataRepository())
    schema = bench_schema()
    repo = ParquetProjectionRepository(schema, state, str(tmp_path / "proj"), spark)
    repo.ensure_index()
    state.update_rebuild_progress(
        schema.schema_name, schema.index_name(), 0, completed=True
    )
    builder = BenchUserStatsBuilder(repo, IndexSelector.Write)
    engine = ProjectionsEngine(store)
    engine.add_projection_builder(builder)
    versions = {f"u{i}": 0 for i in range(8)}

    def append():
        sid = rng.choice(sorted(versions))
        event = BenchValueEvent(aggregate_id=sid, partition_key=BENCH_PARTITION,
                                kind=rng.choice(["view", "purchase"]),
                                value=round(rng.random() * 100, 2))
        store.append_to_stream({"userId": "t"}, sid, versions[sid], [event])
        versions[sid] += 1

    for _ in range(len(versions)):
        append()
    observer = SparkStreamingProjectionsObserver(
        spark, store, engine, str(tmp_path / "ckpt")
    )
    live = observer.start(processing_time="50 milliseconds")
    failures, reads, done = [], [0], threading.Event()

    def reader():
        query = ProjectionQuery(order_by=[SortInfo("Id")], limit=3)
        while not done.is_set():
            try:
                repo.query(query)
                repo.to_df().count()
                reads[0] += 1
            except Exception as e:  # every failed read is the finding
                failures.append(e)

    thread = threading.Thread(target=reader)
    thread.start()
    try:
        deadline = time.monotonic() + 4
        while time.monotonic() < deadline:
            append()
            time.sleep(0.05)
        live.processAllAvailable()
    finally:
        done.set()
        thread.join(timeout=120)
        observer.stop()
    assert not thread.is_alive()
    assert failures == [] and reads[0] > 0
    got = {r["Id"]: (r["NEvents"], r["Purchases"], r["ValueCents"])
           for r in repo.to_df().collect()}
    rebuilt = fold_builder_documents(store.to_df(spark), builder)
    want = {r["Id"]: (r["NEvents"], r["Purchases"], r["ValueCents"])
            for r in rebuilt.collect()}
    assert got == want and sum(n for n, _, _ in got.values()) == sum(
        versions.values()
    )


def test_query_jobs_carry_the_index_description(spark, tmp_path, monkeypatch):
    repo = _pyarrow_repo(spark, tmp_path)
    sc = spark.sparkContext
    run_query = repository.spark_run_query
    seen = []

    def record(*args, **kwargs):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return run_query(*args, **kwargs)

    monkeypatch.setattr(repository, "spark_run_query", record)
    sc.setJobDescription("caller")
    try:
        repo.query(ProjectionQuery(order_by=[SortInfo("Id")], limit=1))
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert seen == [f"projection query: {SCHEMA.index_name()}"]
