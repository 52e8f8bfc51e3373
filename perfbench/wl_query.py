"""`query`: the read side.  Set-up writes a seeded `events` table and a
`documents` table as ``ParquetProjectionRepository`` snapshots.  Each op
takes the next shape of a fixed six-shape mix, decodes its sv1_ wire
string with ``deserialize_query`` and runs it through
``ParquetProjectionRepository.query`` (which calls ``run_query``).  The
event store is never touched.

The sv1_ format carries filters, sort, paging and search text; the facet
request and the scoring profile have no wire token and are attached to
the decoded query.

Checks: every op's ``total_records_found`` and page keys (plus facet
rows and scores where the shape has them) equal the same query in DuckDB
SQL over the parquet the snapshots were written from.
"""

from __future__ import annotations

import dataclasses
import math
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen, harness
from perfbench.harness import median

#: (events, users, documents)
SIZES = {"full": (100_000, 1_500, 5_000), "smoke": (5_000, 100, 500)}
SHAPES = ("bool_tree", "sort3_limit", "deep_page", "facet_sum", "search_text", "search_tf")
#: one cycle of the mix: seven ops, the filter-AST shape twice.  With an
#: odd cycle the median op falls inside one shape's latency cluster, not
#: in the gap between two clusters, where it would jump from run to run.
MIX = ("bool_tree", "sort3_limit", "deep_page", "facet_sum", "bool_tree",
       "search_text", "search_tf")
#: whole cycles of the mix run before timing; op latencies of a fresh
#: JVM still fall through its first cycle
WARMUP_CYCLES = 1
#: warm-up ops draw their parameters from plan indices above this
WARMUP_PLAN_BASE = 1_000_000


@dataclasses.dataclass
class Plan:
    shape: str
    table: str  # "events" or "documents"
    wire: str
    key: str
    where: str  # DuckDB predicate
    order: str  # DuckDB ORDER BY
    limit: int
    offset: int = 0
    facet: bool = False
    score_terms: tuple = ()


def _schemas():
    from cloudfabric_eventsourcing_spark.schema import (
        DATETIME,
        DOUBLE,
        INT64,
        STRING,
        ProjectionSchema,
        PropertySchema,
    )

    events = ProjectionSchema("bench_events", [
        PropertySchema("event_id", INT64, is_key=True, is_sortable=True),
        PropertySchema("ts", DATETIME, is_filterable=True, is_sortable=True),
        PropertySchema("user_id", INT64, is_filterable=True),
        PropertySchema("event_type", STRING, is_filterable=True, is_sortable=True,
                       is_facetable=True),
        PropertySchema("value", DOUBLE, is_filterable=True, is_sortable=True),
    ])
    documents = ProjectionSchema("bench_documents", [
        PropertySchema("doc_id", INT64, is_key=True, is_sortable=True),
        PropertySchema("text", STRING, is_searchable=True),
        PropertySchema("lang", STRING, is_filterable=True),
        PropertySchema("source", STRING, is_searchable=True),
        PropertySchema("n_chars", INT64, is_filterable=True, is_sortable=True),
    ])
    return {"events": events, "documents": documents}


def plan_for(i: int, seed: int, events_tbl, n_users: int) -> Plan:
    """The i-th op of the mix: shape MIX[i mod 7], parameters from (seed, i)."""
    from cloudfabric_eventsourcing_spark.queries import P, ProjectionQuery, SortInfo
    from cloudfabric_eventsourcing_spark.queries.querystring import serialize_query

    rng = np.random.default_rng([seed, 6, i])
    shape = MIX[i % len(MIX)]
    if shape == "bool_tree":
        a, b = (str(x) for x in rng.choice(datagen.EVENT_TYPES, 2, replace=False))
        x, y = int(rng.integers(100, 190)), int(rng.integers(5, 60))
        q = ProjectionQuery(
            filters=[((P("event_type") == a) & (P("value") > x))
                     | ((P("event_type") == b) & (P("value") < y))],
            order_by=[SortInfo("event_id")], limit=20,
        )
        where = (f"(event_type = '{a}' AND value > {x}) OR "
                 f"(event_type = '{b}' AND value < {y})")
        return Plan(shape, "events", serialize_query(q), "event_id", where,
                    "event_id ASC", 20)
    if shape == "sort3_limit":
        u = int(rng.integers(n_users // 20, n_users // 4))
        q = ProjectionQuery(
            filters=[P("user_id") < u],
            order_by=[SortInfo("event_type"), SortInfo("value", "desc"),
                      SortInfo("event_id")],
            limit=25,
        )
        return Plan(shape, "events", serialize_query(q), "event_id", f"user_id < {u}",
                    "event_type ASC, value DESC, event_id ASC", 25)
    if shape == "deep_page":
        v = int(rng.integers(0, 100))
        matches = int(np.count_nonzero(events_tbl.column("value").to_numpy() >= v))
        offset = int(matches * rng.uniform(0.3, 0.7))
        q = ProjectionQuery(
            filters=[P("value") >= v],
            order_by=[SortInfo("ts"), SortInfo("event_id")],
            offset=offset, limit=20,
        )
        return Plan(shape, "events", serialize_query(q), "event_id", f"value >= {v}",
                    "ts ASC, event_id ASC", 20, offset=offset)
    if shape == "facet_sum":
        x = int(rng.integers(0, 150))
        q = ProjectionQuery(filters=[P("value") > x], order_by=[SortInfo("event_id")],
                            limit=10)
        return Plan(shape, "events", serialize_query(q), "event_id", f"value > {x}",
                    "event_id ASC", 10, facet=True)
    term = str(rng.choice(datagen.WORDS))
    if shape == "search_text":
        q = ProjectionQuery(search_text=term, order_by=[SortInfo("doc_id")], limit=20)
        return Plan(shape, "documents", serialize_query(q), "doc_id", _like(term),
                    "doc_id ASC", 20)
    t1, t2 = (str(x) for x in rng.choice(datagen.WORDS, 2, replace=False))
    q = ProjectionQuery(search_text=f"{t1} {t2}", search_mode="tokenized", limit=10)
    return Plan(shape, "documents", serialize_query(q), "doc_id",
                f"({_like(t1)}) AND ({_like(t2)})", "score DESC, doc_id ASC", 10,
                score_terms=(t1, t2))


def _like(term: str) -> str:
    return f"lower(text) LIKE '%{term}%' OR lower(source) LIKE '%{term}%'"


def _tf_sql(terms) -> str:
    parts = [
        f"(length(lower(coalesce({f}, ''))) - "
        f"length(replace(lower(coalesce({f}, '')), '{t}', ''))) / {float(len(t))}"
        for t in terms for f in ("text", "source")
    ]
    return " + ".join(parts)


def run(ctx) -> dict:
    spark = ctx.setup.time("session", lambda: harness.start_spark(ctx.work, ctx.trace))
    try:
        return _run(ctx, spark)
    finally:
        harness.stop_spark(spark)


def _run(ctx, spark) -> dict:
    from cloudfabric_eventsourcing_spark.eventstore import InMemoryMetadataRepository
    from cloudfabric_eventsourcing_spark.plans import translator
    from cloudfabric_eventsourcing_spark.projections import (
        ParquetProjectionRepository,
        ProjectionIndexStateStore,
    )
    from cloudfabric_eventsourcing_spark.queries import FacetInfoRequest, querystring

    from perfbench import tracing

    n_events, n_users, n_docs = SIZES["smoke" if ctx.smoke else "full"]
    tables = {
        "events": datagen.events(ctx.seed, n_events, n_users),
        "documents": datagen.documents(ctx.seed, n_docs),
    }
    inputs = {}
    for name, table in tables.items():
        inputs[name] = os.path.join(ctx.work, f"{name}.parquet")
        pq.write_table(table, inputs[name])
    schemas = _schemas()

    def materialize() -> dict:
        state = ProjectionIndexStateStore(InMemoryMetadataRepository())
        repos = {}
        for name, schema in schemas.items():
            repo = ParquetProjectionRepository(
                schema, state, os.path.join(ctx.work, "projections"), spark=spark
            )
            repo.ensure_index()
            repo.overwrite_from_df(spark.read.parquet(inputs[name]))
            state.update_rebuild_progress(
                schema.schema_name, schema.index_name(), len(tables[name]), completed=True
            )
            repos[name] = repo
        return repos

    repos = ctx.setup.time("materialize", materialize)

    plans: dict[int, Plan] = {}

    def prepare(i: int) -> None:
        """Build op i's plan (its wire string and oracle SQL) before the op
        runs; warm-up ops (negative i) draw from their own index range."""
        n = i if i >= 0 else WARMUP_PLAN_BASE - 1 - i
        plans[i] = plan_for(n, ctx.seed, tables["events"], n_users)

    def op(i: int) -> dict:
        plan = plans[i]
        q = querystring.deserialize_query(plan.wire)
        if plan.facet:
            q.facet_info_to_return = [FacetInfoRequest("event_type", sum_by_field="value")]
        if plan.score_terms:
            q.scoring_profile = "tf"
        res = repos[plan.table].query(q)
        return {
            "total": res.total_records_found,
            "keys": [r.document[plan.key] for r in res.records],
            "scores": [r.score for r in res.records],
            "facets": [
                (f.value, f.count, f.sum_by_value)
                for f in res.facets_stats.get("event_type", [])
            ],
        }

    def warmup() -> None:
        n = WARMUP_CYCLES * len(MIX)
        for i in range(n):
            prepare(-1 - i)
        ctx.log.warmup(op, n)

    ctx.setup.time("warmup", warmup)

    tracer = ctx.tracer
    if tracer is not None:
        tracer.wrap(querystring, "deserialize_query", "queries.decode")
        tracer.wrap(ParquetProjectionRepository, "query", "projections.query")
        # run_query resolves these through its module globals
        tracer.wrap(translator, "filter_to_column", "plans.filter_to_column")
        tracer.wrap(translator, "search_to_column", "plans.search_to_column")
        tracer.wrap(translator, "sort_columns", "plans.sort_columns")

    ctx.log.timed(op, ctx.seconds, between=prepare, cycle=len(MIX))

    checks = _check(ctx, inputs, plans)
    out = {"checks": checks, "report": {
        "shapes": {s: median(r.latency_s * 1000.0 for r in ctx.log.timed_records()
                             if plans[r.index].shape == s)
                   for s in SHAPES},
    }}
    if tracer is None:
        return out
    timed = ctx.log.timed_records()
    ops = {r.index for r in timed}
    rest = tracing.SparkRest(spark)
    rest.fetch()
    windows = [rest.window(r.start_epoch, r.end_epoch) for r in timed]
    out["layers"] = {
        "queries.decode_ms_p50": median(tracer.durations_ms("queries.decode", ops)),
        "projections.query_ms_p50": median(tracer.durations_ms("projections.query", ops)),
        "plans.translate_ms_p50": median(tracer.per_op_total_ms(
            {"plans.filter_to_column", "plans.search_to_column", "plans.sort_columns"},
            ops)),
        "plans.spark_jobs_per_query": sum(w[0] for w in windows) / len(windows),
        "plans.scan_rows_per_query": sum(w[1] for w in windows) / len(windows),
        "plans.collect_rows_per_query": sum(
            len(r.payload["keys"]) + len(r.payload["facets"]) for r in timed if r.ok
        ) / len(timed),
    }
    return out


def _check(ctx, inputs: dict, plans: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    for name, path in inputs.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    for rec in ctx.log.records:
        if not rec.ok:
            continue
        plan = plans[rec.index]
        got = rec.payload
        total = con.execute(
            f"SELECT count(*) FROM {plan.table} WHERE {plan.where}").fetchone()[0]
        score = f"{_tf_sql(plan.score_terms)} AS score" if plan.score_terms else "0 AS score"
        page = con.execute(
            f"SELECT {plan.key}, {score} FROM {plan.table} WHERE {plan.where} "
            f"ORDER BY {plan.order} LIMIT {plan.limit} OFFSET {plan.offset}"
        ).fetchall()
        problems = []
        if got["total"] != total:
            problems.append(f"total {got['total']} != {total}")
        if got["keys"] != [k for k, _ in page]:
            problems.append("page keys differ")
        if plan.score_terms and not all(
            math.isclose(a, b, abs_tol=1e-9) for a, (_, b) in zip(got["scores"], page)
        ):
            problems.append("scores differ")
        if plan.facet:
            want = con.execute(
                f"SELECT event_type, count(*), sum(value) FROM {plan.table} "
                f"WHERE {plan.where} GROUP BY event_type "
                f"ORDER BY count(*) DESC, event_type ASC"
            ).fetchall()
            if len(want) != len(got["facets"]) or not all(
                a[0] == b[0] and a[1] == b[1] and math.isclose(a[2], b[2], rel_tol=1e-9)
                for a, b in zip(got["facets"], want)
            ):
                problems.append("facets differ")
        if problems:
            ctx.log.fail(rec, f"{plan.shape} op {rec.index}: " + "; ".join(problems))
    con.close()
    return {"oracle_queries_run": True}
