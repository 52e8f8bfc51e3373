"""Projection repositories: upsert/get/delete/query documents per index.

Behavioral spec (reference, read-only):
  - interface + index resolution: CloudFabric.Projections/ProjectionRepository.cs:11-111,252-373
  - Postgres upsert `INSERT ... ON CONFLICT DO UPDATE`: Implementations/
    .../PostgresqlProjectionRepository.cs:390-470; point get :197-302;
    deletes :304-388; query :472-677
  - in-memory dict backend: InMemoryProjectionRepository.cs:155-233

Backends:
  - InMemoryProjectionRepository — dict-of-dicts + the pure-Python AST
    evaluator (plans/pyeval). The live-maintenance fast path for small
    working sets and the parity backend for tests.
  - ParquetProjectionRepository — one directory per index holding
    versioned snapshot dirs (`commit.publish`/`commit.latest`); writes
    are batch MERGEs (read-minus-keys + concat) published against the
    snapshot they read, queries go through Spark + the Column
    translator. This is the single-node stand-in for a Delta table with
    `MERGE INTO` (SURVEY.md S7); on a cluster the same repository API maps
    onto Delta MERGE inside foreachBatch. Documents are stored COLUMNAR —
    an upgrade over the reference's row stores, free with parquet.

Every operation stamps PartitionKey + UpdatedAt like the reference
(PostgresqlProjectionRepository.cs:400-427).
"""

from __future__ import annotations

import datetime
import os
import threading
from typing import Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from cloudfabric_eventsourcing_spark import commit
from cloudfabric_eventsourcing_spark.plans import pyeval
from cloudfabric_eventsourcing_spark.plans.translator import run_query as spark_run_query
from cloudfabric_eventsourcing_spark.queries.projection_query import (
    ProjectionQuery,
    ProjectionQueryResult,
    QueryResultDocument,
)
from cloudfabric_eventsourcing_spark.session import estimated_bytes, job_description
from cloudfabric_eventsourcing_spark.schema import (
    ARRAY,
    BOOLEAN,
    DATETIME,
    DECIMAL,
    DOUBLE,
    GUID,
    INT32,
    INT64,
    OBJECT,
    SINGLE,
    STRING,
    ProjectionSchema,
    PropertySchema,
)
from cloudfabric_eventsourcing_spark.projections.state import (
    IndexSelector,
    ProjectionIndexStateStore,
)

_ARROW_SCALARS = {
    INT32: pa.int32(),
    INT64: pa.int64(),
    SINGLE: pa.float32(),
    DOUBLE: pa.float64(),
    DECIMAL: pa.decimal128(38, 6),
    BOOLEAN: pa.bool_(),
    STRING: pa.string(),
    DATETIME: pa.timestamp("us"),
    GUID: pa.string(),
}


def _arrow_type(p: PropertySchema) -> pa.DataType:
    if p.type == OBJECT:
        return pa.struct([(n.name, _arrow_type(n)) for n in p.nested_properties])
    if p.type == ARRAY:
        if p.nested_properties:
            return pa.list_(
                pa.struct([(n.name, _arrow_type(n)) for n in p.nested_properties])
            )
        return pa.list_(_ARROW_SCALARS[p.array_element_type])
    return _ARROW_SCALARS[p.type]


def arrow_schema(schema: ProjectionSchema) -> pa.Schema:
    return pa.schema([(p.name, _arrow_type(p)) for p in schema.properties])


class ProjectionRepository:
    """Base: index resolution via the state store + document lifecycle."""

    def __init__(self, schema: ProjectionSchema, state_store: ProjectionIndexStateStore):
        self.schema = schema
        self.state_store = state_store

    # -- physical ops implemented by backends -------------------------------
    # (no create op: every backend creates an index's storage on its first
    # write, so registering an index is a state-store write only)
    def _upsert_batch(self, index_name: str, docs: list[dict]) -> None:
        raise NotImplementedError

    def _get(self, index_name: str, id: str, partition_key: str) -> Optional[dict]:
        raise NotImplementedError

    def _delete(self, index_name: str, id: str, partition_key: str) -> None:
        raise NotImplementedError

    def _delete_all(self, index_name: str, partition_key: Optional[str]) -> None:
        raise NotImplementedError

    def _query(
        self, index_name: str, schema: ProjectionSchema, query: ProjectionQuery,
        partition_key: Optional[str]
    ) -> ProjectionQueryResult[dict]:
        raise NotImplementedError

    # -- public API ---------------------------------------------------------
    def ensure_index(self, selector: str = IndexSelector.ProjectionRebuild) -> str:
        """Create/register the index for this repository's schema and return
        the resolved physical index name. The selector is honored: the
        default (ProjectionRebuild) always resolves the exact-schema-hash
        index (bootstrap semantics); Write/ReadOnly resolve through the
        rebuild state machine and may raise IndexNotReadyError
        (ProjectionRepository.cs:252-373)."""
        return self._resolve(selector)[0]

    def _resolve(self, selector: str) -> tuple[str, ProjectionSchema]:
        return self.state_store.resolve_index(self.schema, selector)

    def upsert(
        self,
        document: dict,
        partition_key: str,
        updated_at: Optional[datetime.datetime] = None,
        selector: str = IndexSelector.Write,
    ) -> None:
        self.upsert_batch([document], partition_key, updated_at, selector)

    def upsert_batch(
        self,
        documents: list[dict],
        partition_key: str,
        updated_at: Optional[datetime.datetime] = None,
        selector: str = IndexSelector.Write,
    ) -> None:
        index_name, schema = self._resolve(selector)
        stamp = {"PartitionKey": partition_key}
        if schema.property("UpdatedAt") is not None:
            stamp["UpdatedAt"] = updated_at or _utcnow()
        self._upsert_batch(index_name, [{**doc, **stamp} for doc in documents])

    def single(
        self, id: str, partition_key: str, selector: str = IndexSelector.ReadOnly
    ) -> Optional[dict]:
        index_name, _ = self._resolve(selector)
        return self._get(index_name, id, partition_key)

    def delete(
        self, id: str, partition_key: str, selector: str = IndexSelector.Write
    ) -> None:
        index_name, _ = self._resolve(selector)
        self._delete(index_name, id, partition_key)

    def delete_all(
        self, partition_key: Optional[str] = None, selector: str = IndexSelector.Write
    ) -> None:
        index_name, _ = self._resolve(selector)
        self._delete_all(index_name, partition_key)

    def query(
        self,
        query: ProjectionQuery,
        partition_key: Optional[str] = None,
        selector: str = IndexSelector.ReadOnly,
    ) -> ProjectionQueryResult[dict]:
        index_name, schema = self._resolve(selector)
        return self._query(index_name, schema, query, partition_key)


def _describe_query(index_name, query, partition_key) -> str:
    """Backend-agnostic debug description (the in-memory analogue of the
    translated-query text the Spark backend emits): the reference fills
    DebugInformation with the backend query it ran
    (PostgresqlProjectionRepository.cs:619-652)."""
    parts = [f"index: {index_name}"]
    if partition_key is not None:
        parts.append(f"partition_key: PartitionKey == {partition_key!r}")
    parts.extend(f"filter: {f}" for f in query.filters)
    if query.search_text and query.search_text != "*":
        parts.append(
            f"search: mode={query.search_mode} analyzer={query.analyzer} "
            f"text={query.search_text!r}"
        )
    if query.order_by:
        parts.append(f"order_by: {query.order_by}")
    if query.offset:
        parts.append(f"offset: {query.offset}")
    if query.limit is not None:
        parts.append(f"limit: {query.limit}")
    return "\n".join(parts)


class InMemoryProjectionRepository(ProjectionRepository):
    def __init__(self, schema, state_store, include_debug_information=False):
        super().__init__(schema, state_store)
        self._indexes: dict[str, dict[tuple[str, str], dict]] = {}
        self._lock = threading.Lock()
        self._include_debug_information = include_debug_information

    def _upsert_batch(self, index_name, docs):
        key = self.schema.key_name
        with self._lock:
            index = self._indexes.setdefault(index_name, {})
            for doc in docs:
                index[(str(doc[key]), doc["PartitionKey"])] = doc

    def merge_from_df(
        self,
        docs_df,
        selector: str = IndexSelector.Write,
        tombstone_col: Optional[str] = None,
    ) -> None:
        """The driver-side MERGE: this backend's documents live on the
        driver, so the document rows (bounded by the streams a batch
        touched, never by its events) are collected and upserted, and
        tombstone rows are deleted."""
        index_name, _ = self._resolve(selector)
        key = self.schema.key_name
        upserts = []
        for row in docs_df.collect():
            d = row.asDict(recursive=True)
            if tombstone_col is not None and d.pop(tombstone_col):
                self._delete(index_name, d[key], d["PartitionKey"])
            else:
                upserts.append(d)
        self._upsert_batch(index_name, upserts)

    def overwrite_from_df(self, df, selector: str = IndexSelector.ProjectionRebuild):
        """The rebuild sink: the index becomes exactly `df`'s rows."""
        self.delete_all(selector=selector)
        self.merge_from_df(df, selector)

    def _get(self, index_name, id, partition_key):
        doc = self._indexes.get(index_name, {}).get((str(id), partition_key))
        return dict(doc) if doc else None

    def _delete(self, index_name, id, partition_key):
        self._indexes.get(index_name, {}).pop((str(id), partition_key), None)

    def _delete_all(self, index_name, partition_key):
        index = self._indexes.get(index_name, {})
        if partition_key is None:
            index.clear()
        else:
            for k in [k for k in index if k[1] == partition_key]:
                del index[k]

    def _query(self, index_name, schema, query, partition_key):
        docs = list(self._indexes.get(index_name, {}).values())
        if partition_key is not None:
            docs = [d for d in docs if d.get("PartitionKey") == partition_key]
        page, total = pyeval.run_query_docs(docs, query, schema)
        scoring = (
            query.scoring_profile == "tf"
            and query.search_text
            and query.search_text != "*"
        )
        hl_fields = [
            f
            for f in query.fields_to_highlight
            if query.search_text
            and query.search_text != "*"
            and schema.property(f) is not None
            and schema.property(f).is_searchable
        ]

        def record(d):
            score = (
                pyeval.score_doc(
                    query.search_text, d, schema, query.search_mode, query.analyzer
                )
                if scoring
                else 0.0
            )
            highlights = {}
            for f in hl_fields:
                hl = pyeval.highlight_doc(
                    d.get(f), query.search_text, query.search_mode
                )
                if hl is not None:
                    highlights[f] = [hl]
            return QueryResultDocument(
                document=dict(d), score=float(score), highlights=highlights
            )
        facets = {}
        if query.facet_info_to_return:
            matched = [
                d
                for d in docs
                if all(pyeval.eval_filter(f, d, schema) for f in query.filters)
                and pyeval.eval_search(
                    query.search_text, d, schema, query.search_mode,
                    query.analyzer, query.synonyms, query.phrase_slop,
                )
            ]
            facets = pyeval.facet_stats_docs(matched, query.facet_info_to_return)
        return ProjectionQueryResult(
            records=[record(d) for d in page],
            total_records_found=total,
            facets_stats=facets,
            debug_information=(
                _describe_query(index_name, query, partition_key)
                if self._include_debug_information
                else ""
            ),
        )


class ParquetProjectionRepository(ProjectionRepository):
    """Snapshot-parquet backend; requires a SparkSession for queries."""

    def __init__(
        self, schema, state_store, base_path: str, spark=None,
        include_debug_information=False,
    ):
        super().__init__(schema, state_store)
        self.base_path = base_path
        self.spark = spark
        # this instance's publishes never conflict with each other; other
        # instances on the same base_path hit the publish's version check
        self._lock = threading.RLock()
        # Spark schema of each snapshot path, so a read needs no schema-
        # inference job; safe to keep because a published snapshot is
        # never rewritten
        self._snapshot_structs: dict[str, StructType] = {}
        self._include_debug_information = include_debug_information

    # -- snapshot helpers ---------------------------------------------------
    def _dir(self, index_name: str) -> str:
        return os.path.join(self.base_path, index_name)

    def _read(self, index_name: str) -> tuple[pa.Table, Optional[str]]:
        """The newest snapshot as a table, and its path: the base a
        read-modify-write publishes against."""
        path = commit.latest(self._dir(index_name))
        if path is None:
            return arrow_schema(self.schema).empty_table(), None
        return pa_ds.dataset(path, format="parquet").to_table(), path

    def _spark_read(self, spark, path: Optional[str], schema: ProjectionSchema):
        if path is None:
            return spark.createDataFrame([], schema.to_struct_type())
        struct = self._snapshot_structs.get(path)
        if struct is None:  # published by another instance
            struct = self._snapshot_structs[path] = spark.read.parquet(path).schema
        return spark.read.schema(struct).parquet(path)

    def _publish(self, index_name, write, struct: StructType, base) -> None:
        with self._lock:
            out, retired = commit.publish(self._dir(index_name), write, base)
        self._snapshot_structs[out] = struct
        for p in retired:
            self._snapshot_structs.pop(p, None)

    def _rewrite(self, index_name: str, drop, rows=()) -> None:
        """Driver-side read-modify-write: publish the snapshot `table` minus
        the rows `drop(table)` masks, plus `rows`, as the successor of the
        snapshot `table` was read from. A write that drops and adds
        nothing publishes nothing."""
        with self._lock:
            table, base = self._read(index_name)
            mask = drop(table)
            if not rows and not pc.any(mask).as_py():
                return
            new = pa.concat_tables([
                table.filter(pc.invert(mask)),
                pa.Table.from_pylist(rows, schema=table.schema),
            ])
            self._publish(
                index_name,
                # coerce any ns timestamps (e.g. INT96 read back from a Spark
                # write) to µs so Spark can read the snapshot
                lambda staging: pq.write_table(
                    new, os.path.join(staging, "part-00000.parquet"),
                    coerce_timestamps="us", allow_truncated_timestamps=True,
                ),
                from_arrow_schema(new.schema, prefer_timestamp_ntz=True), base,
            )

    # -- physical ops -------------------------------------------------------
    def _upsert_batch(self, index_name, docs):
        """Batch MERGE: current MINUS batch-keys UNION batch (Delta
        `MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT`
        equivalent, SURVEY.md S7)."""
        key = self.schema.key_name
        # last-writer-wins within the batch, matching upsert order
        dedup = {(str(d[key]), d["PartitionKey"]): _normalize_doc(d) for d in docs}
        self._rewrite(
            index_name, lambda table: _matches(table, key, dedup),
            list(dedup.values()),
        )

    def _get(self, index_name, id, partition_key):
        table, _ = self._read(index_name)
        key = self.schema.key_name
        hit = table.filter(_matches(table, key, [(str(id), partition_key)]))
        return hit.to_pylist()[0] if hit.num_rows else None

    def _delete(self, index_name, id, partition_key):
        key = self.schema.key_name
        self._rewrite(
            index_name, lambda table: _matches(table, key, [(str(id), partition_key)])
        )

    def _delete_all(self, index_name, partition_key):
        self._rewrite(index_name, lambda table: (
            pa.repeat(True, table.num_rows) if partition_key is None
            else pc.equal(table["PartitionKey"], partition_key)
        ))

    def to_df(self, selector: str = IndexSelector.ReadOnly):
        index_name, schema = self._resolve(selector)
        return self._spark_read(
            self.spark, commit.latest(self._dir(index_name)), schema
        )

    def create_or_replace_view(
        self, view_name: Optional[str] = None, selector: str = IndexSelector.ReadOnly
    ) -> str:
        """Expose the resolved projection index as a Spark SQL temp view so
        users can `spark.sql` over it directly — the always-available
        escape hatch to the raw DataFrame/SQL surface."""
        name = view_name or self.schema.schema_name
        self.to_df(selector).createOrReplaceTempView(name)
        return name

    def _query(self, index_name, schema, query, partition_key):
        if self.spark is None:
            raise RuntimeError("ParquetProjectionRepository needs a SparkSession for queries")
        path = commit.latest(self._dir(index_name))
        if path is None:
            return ProjectionQueryResult(records=[], total_records_found=0)
        with job_description(self.spark, f"projection query: {index_name}"):
            return spark_run_query(
                self._spark_read(self.spark, path, schema), query, schema,
                partition_key,
                include_debug_information=self._include_debug_information,
            )

    def update_documents_expr(
        self,
        query: ProjectionQuery,
        set_columns: dict,
        partition_key: Optional[str] = None,
        updated_at: Optional[datetime.datetime] = None,
        selector: str = IndexSelector.Write,
    ) -> None:
        """Declarative bulk UPDATE ... WHERE — the scale path for
        ProjectionBuilder.update_documents when the mutation is
        expressible as Column expressions (`{"Price": F.col("Price")*1.1}`).

        One Spark job: the current snapshot is read, matched rows get the
        new column values (non-matched rows pass through unchanged), and
        executors write the replacement snapshot directly — no document
        ever crosses the driver, unlike the callback form which pages
        results through `query()` (the reference's own shape,
        ProjectionBuilder.cs:109-135, kept for arbitrary-Python
        mutations). Equivalent to Delta `UPDATE ... WHERE` / `MERGE WHEN
        MATCHED UPDATE`."""
        from pyspark.sql import functions as F

        from cloudfabric_eventsourcing_spark.plans.translator import (
            filter_to_column,
            search_to_column,
        )

        if self.spark is None:
            raise RuntimeError("update_documents_expr needs a SparkSession")
        index_name, schema = self._resolve(selector)
        # same read-compute-publish binding as merge_from_df
        with self._lock:
            base = commit.latest(self._dir(index_name))
            df = self._spark_read(self.spark, base, schema)
            pred = F.lit(True)
            if partition_key is not None:
                pred = pred & (F.col("PartitionKey") == partition_key)
            for f in query.filters:
                pred = pred & filter_to_column(f, schema)
            search = search_to_column(
                query.search_text, schema, query.search_mode,
                query.analyzer, query.synonyms, query.phrase_slop,
            )
            if search is not None:
                pred = pred & search
            updates = dict(set_columns)
            if updated_at is not None and "UpdatedAt" in df.columns:
                updates.setdefault("UpdatedAt", F.lit(updated_at))
            updated = df.withColumns(
                {
                    name: F.when(pred, expr).otherwise(F.col(name))
                    for name, expr in updates.items()
                }
            )
            self._rewrite_df(index_name, updated, base, df)

    def merge_from_df(
        self,
        docs_df,
        selector: str = IndexSelector.Write,
        tombstone_col: Optional[str] = None,
    ) -> None:
        """Df-native MERGE: upsert every row of `docs_df` into the snapshot
        and (when `tombstone_col` names a boolean column) apply tombstone
        rows as deletes — all executor-side, no document ever crosses the
        driver. This is the live-maintenance sink for the distributed
        observer: Delta `MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT
        MATCHED INSERT WHEN MATCHED AND tombstone DELETE` over a snapshot
        store (PostgresqlProjectionRepository.cs:390-470 batch upsert +
        :304-388 delete, collapsed into one plan).

        The documents are computed once: `docs_df` (on the live path a
        store scan, a semi-join and the `fold_streams` kernel) is
        materialized by an eager `localCheckpoint`, and the changed-key
        set and the upserts both read that checkpoint. It runs before the
        snapshot is resolved, so a publish by another instance can only
        race the anti-join and the write. The changed keys are not made
        distinct: a `left_anti` join does not need unique build keys, and
        the fold emits one row per (key, PartitionKey). The observer makes
        its batch's (stream, partition) pairs distinct only when the batch
        is too big to broadcast as it is, as after a compaction.

        Shape at scale: the changed-key set is bounded by the streams a
        micro-batch touched, so it is broadcast to anti-join the big
        current snapshot (no shuffle of the snapshot); on Delta the same
        call maps to MERGE INTO which rewrites only matched files instead
        of the full snapshot. The snapshot is read with `docs_df`'s own
        session, so a repository built without one works as a sink. When
        another repository instance on the same base_path published since
        this MERGE read its snapshot, it raises
        `commit.SnapshotConflictError` and publishes nothing."""
        from pyspark.sql import functions as F

        index_name, schema = self._resolve(selector)
        key = schema.key_name
        docs = docs_df.localCheckpoint(eager=True)
        # the publish is bound to the snapshot read here
        with self._lock:
            base = commit.latest(self._dir(index_name))
            current = self._spark_read(docs.sparkSession, base, schema)
            changed = docs.select(
                F.col(key).cast("string").alias("__mk"),
                F.col("PartitionKey").alias("__mp"),
            )
            kept = current.join(
                F.broadcast(changed),
                (current[key].cast("string") == changed["__mk"])
                & (current["PartitionKey"] == changed["__mp"]),
                "left_anti",
            )
            ups = docs
            if tombstone_col is not None:
                ups = ups.where(~F.col(tombstone_col)).drop(tombstone_col)
            merged = kept.unionByName(ups.select(*current.columns))
            self._rewrite_df(
                index_name, merged, base, current, docs.rdd.getNumPartitions()
            )

    def overwrite_from_df(self, df, selector: str = IndexSelector.ProjectionRebuild):
        """Distributed rebuild sink: the Spark job writes the new snapshot
        directory directly (parallel part files, executors never funnel
        through the driver) and `commit.publish` renames it in over
        whatever snapshot is newest by then (the scale path — SURVEY.md
        §3.3: 'embarrassingly parallel in Spark, unlike the reference's
        single-cursor loop')."""
        index_name, _ = self._resolve(selector)
        self._overwrite(index_name, df, commit.LATEST)

    def _rewrite_df(self, index_name: str, df, base, snapshot, min_files=1) -> None:
        """Publish `df`, a rewrite of the `snapshot` read at `base`, in one
        file per `spark.sql.files.maxPartitionBytes` of that snapshot's
        scan (a fold's checkpoint keeps the whole store's estimate) but no
        fewer than `min_files`, the MERGE's document partitions. An empty
        projection, of unknown size, keeps `df`'s partitioning. Not for the
        rebuild: the coalesce would narrow its fold stage."""
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        size = estimated_bytes(snapshot)
        if size < conf.defaultSizeInBytes():
            n = -(-size // conf.filesMaxPartitionBytes())
            df = df.coalesce(max(min_files, n))
        self._overwrite(index_name, df, base)

    def _overwrite(self, index_name: str, df, base) -> None:
        from pyspark.sql import functions as F

        # store convention: timestamps are timezone-NAIVE UTC µs (what the
        # pyarrow MERGE path writes); cast every column holding a tz-aware
        # timestamp, at any depth, to NTZ so a Spark-written snapshot reads
        # back identically (session tz is UTC, values unchanged)
        casts = {}
        for f in df.schema.fields:
            ntz = _ntz(f.dataType)
            if ntz != f.dataType:
                casts[f.name] = F.col(f.name).cast(ntz)
        if casts:
            df = df.withColumns(casts)
        # no `_SUCCESS` marker (nor its `.crc`): the publish rename is the
        # commit, and on a local disk without native Hadoop each file the
        # JVM creates costs a forked `chmod`
        writer = df.write.mode("overwrite").option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
        )
        self._publish(
            index_name, lambda staging: writer.parquet(staging), df.schema, base
        )


def _ntz(t):
    """Spark type `t` with every `TimestampType` in it, at any depth, as
    `TimestampNTZType`."""
    from pyspark.sql import types as T

    if isinstance(t, T.TimestampType):
        return T.TimestampNTZType()
    if isinstance(t, T.StructType):
        return T.StructType([
            T.StructField(f.name, _ntz(f.dataType), f.nullable, f.metadata)
            for f in t.fields
        ])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_ntz(t.elementType), t.containsNull)
    return t


def _matches(table: pa.Table, key: str, pairs) -> pa.ChunkedArray:
    """Rows whose (key, PartitionKey) is one of `pairs` — matched as one
    composite, since two separate is_in masks would match cross-pairs."""
    combo = pc.binary_join_element_wise(
        pc.cast(table[key], pa.string()), table["PartitionKey"], "\x00"
    )
    keys = pa.array([f"{k}\x00{p}" for k, p in pairs], pa.string())
    return pc.is_in(combo, value_set=keys)


def _utcnow() -> datetime.datetime:
    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


def _normalize_doc(doc: dict) -> dict:
    out = {}
    for k, v in doc.items():
        if isinstance(v, datetime.datetime) and v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        out[k] = v
    return out
