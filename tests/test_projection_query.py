"""ParquetProjectionRepository.query: the total observed on the page job,
the snapshot read with a recorded schema, the query's Spark job
description, and a query racing a concurrent publish."""

import datetime
import decimal
import glob
import os
import uuid

import pytest
from pyspark.sql import functions as F

from cloudfabric_eventsourcing_spark.eventstore import InMemoryMetadataRepository
from cloudfabric_eventsourcing_spark.plans.translator import (
    filter_to_column,
    run_query,
    search_to_column,
)
from cloudfabric_eventsourcing_spark.projections import (
    ParquetProjectionRepository,
    ProjectionIndexStateStore,
    repository,
)
from cloudfabric_eventsourcing_spark.queries import (
    FacetInfoRequest,
    P,
    ProjectionQuery,
    SortInfo,
)
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
    return repo._snapshot_path(SCHEMA.index_name())


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


def test_publish_prunes_the_retired_snapshot_schema(spark, tmp_path):
    repo = _pyarrow_repo(spark, tmp_path)
    old = _snapshot(repo)
    repo.upsert(dict(DOCS[0], Rank=99), "even")
    assert old not in repo._snapshot_structs
    assert _snapshot(repo) in repo._snapshot_structs


def test_query_reruns_when_a_concurrent_publish_retires_its_snapshot(
    spark, tmp_path, monkeypatch
):
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
    res = repo.query(ProjectionQuery(filters=[P("Rank") == 99],
                                     order_by=[SortInfo("Id")]))
    assert not os.path.exists(published[0])
    assert [r.document["Id"] for r in res.records] == ["d001"]
    assert res.total_records_found == 1


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
