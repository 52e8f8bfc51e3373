"""`live`: projections kept current by Structured Streaming.

Set-up materializes a seeded `events` table as a ``ParquetEventStore`` with
``benchmarks.make_bench_event_store``, starts ``SparkStreamingProjectionsObserver``
(distributed mode, ``BenchUserStatsBuilder``, ``ParquetProjectionRepository``)
once and waits for it to drain the store.  Each op appends one
``BenchValueEvent`` to a seeded-random existing stream and waits for
``StreamingQuery.processAllAvailable()``.  One ``compact()`` runs after
the timed phase, followed by one more op, whose micro-batch re-delivers
the whole store; both are checked but outside the timed ops, and the
traced run reports them as ``eventstore.compact_s`` and
``streaming.post_compact_round_ms``.  (Every timed op runs on the
uncompacted store: an op costs about a fifth less CPU right after a
compaction, so a compaction inside the timed phase would make the median
depend on where it fell.)

Checks: the final projection equals a DuckDB recompute of the per-user
counters over the store's parquet (deduplicated by event id) and the
counters the benchmark itself tracked.
"""

from __future__ import annotations

import glob
import hashlib
import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen, harness
from perfbench.harness import OpFailure, median

#: (events, users) of the materialized store
SIZES = {"full": (2_000, 100), "smoke": (1_000, 30)}
TRIGGER = "100 milliseconds"
#: the first one-event op after the drain costs a fifth more CPU than
#: the ones after it
WARMUP_OPS = 1
DRAIN_TIMEOUT_S = 60.0
USER = {"userId": "perfbench"}
#: index of the op that follows the compaction (outside the timed ops)
POST_COMPACT_OP = 1_000_000


def run(ctx) -> dict:
    spark = ctx.setup.time("session", lambda: harness.start_spark(ctx.work, ctx.trace))
    try:
        return _run(ctx, spark)
    finally:
        harness.stop_spark(spark)


def _drain(query) -> None:
    """processAllAvailable with a deadline: a drain that has not finished
    in time stops the query and fails the op."""
    timer = threading.Timer(DRAIN_TIMEOUT_S, query.stop)
    timer.start()
    try:
        query.processAllAvailable()
    finally:
        timer.cancel()
    if not query.isActive:
        raise OpFailure(f"drain did not finish within {DRAIN_TIMEOUT_S} s")


def _store_files(path: str) -> dict[str, int]:
    return {
        f: os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if not os.path.basename(f).startswith(".")
    }


def _run(ctx, spark) -> dict:
    from cloudfabric_eventsourcing_spark.benchmarks import (
        BENCH_PARTITION,
        BenchUserStatsBuilder,
        BenchValueEvent,
        bench_schema,
        make_bench_event_store,
    )
    from cloudfabric_eventsourcing_spark.eventstore import (
        InMemoryMetadataRepository,
        ParquetEventStore,
    )
    from cloudfabric_eventsourcing_spark.projections import (
        IndexSelector,
        ParquetProjectionRepository,
        ProjectionIndexStateStore,
        ProjectionsEngine,
        distributed,
    )
    from cloudfabric_eventsourcing_spark.streaming import (
        SparkStreamingProjectionsObserver,
    )

    from perfbench import tracing

    n_events, n_users = SIZES["smoke" if ctx.smoke else "full"]
    table = datagen.events(ctx.seed, n_events, n_users)

    # expected per-user counters and stream versions, kept by the
    # benchmark alongside the program
    users = table.column("user_id").to_numpy()
    kinds = table.column("event_type").to_numpy(zero_copy_only=False)
    cents = np.rint(table.column("value").to_numpy() * 100).astype(np.int64)
    expect: dict[str, list[int]] = {}
    for u, k, c in zip(users, kinds, cents):
        row = expect.setdefault(str(u), [0, 0, 0])  # NEvents, Purchases, ValueCents
        row[0] += 1
        row[1] += int(k == "purchase")
        row[2] += int(c)
    streams = sorted(expect, key=int)

    def materialize():
        src = os.path.join(ctx.work, "input")
        os.makedirs(src)
        pq.write_table(table, os.path.join(src, "events.parquet"))
        return make_bench_event_store(spark, src, os.path.join(ctx.work, "store"))

    store = ctx.setup.time("materialize", materialize)

    tracer = ctx.tracer
    if tracer is not None:
        tracer.wrap(ParquetEventStore, "append_to_stream", "eventstore.append")
        tracer.wrap(ParquetEventStore, "to_df", "eventstore.to_df")
        tracer.wrap(ParquetEventStore, "compact", "eventstore.compact")
        tracer.wrap(ParquetProjectionRepository, "merge_from_df", "projections.merge")
        # the observer imports it at call time, so the module attribute
        # is what it resolves
        tracer.wrap(distributed, "fold_builder_documents", "projections.fold_plan")
        listener = tracing.progress_listener()
        spark.streams.addListener(listener)

    schema = bench_schema()
    state = ProjectionIndexStateStore(InMemoryMetadataRepository())
    repo = ParquetProjectionRepository(
        schema, state, os.path.join(ctx.work, "projection"), spark=spark
    )
    repo.ensure_index()
    state.update_rebuild_progress(
        schema.schema_name, schema.index_name(), 0, completed=True
    )
    engine = ProjectionsEngine(store)
    engine.add_projection_builder(BenchUserStatsBuilder(repo, IndexSelector.Write))
    observer = SparkStreamingProjectionsObserver(
        spark, store, engine, os.path.join(ctx.work, "checkpoint")
    )

    def start_and_drain():
        q = observer.start(processing_time=TRIGGER)
        _drain(q)
        return q

    query = ctx.setup.time("drain", start_and_drain)

    rng = np.random.default_rng([ctx.seed, 5])

    def op(i: int) -> str:
        sid = streams[int(rng.integers(0, len(streams)))]
        kind = str(rng.choice(datagen.EVENT_TYPES, p=datagen.EVENT_TYPE_P))
        value = round(float(rng.random()) * 200.0, 2)
        event = BenchValueEvent(
            aggregate_id=sid, partition_key=BENCH_PARTITION, kind=kind, value=value
        )
        row = expect[sid]
        store.append_to_stream(USER, sid, row[0], [event])
        row[0] += 1
        row[1] += int(kind == "purchase")
        row[2] += int(round(value * 100))
        _drain(query)
        return sid

    ctx.setup.time("warmup", lambda: ctx.log.warmup(op, WARMUP_OPS))
    ctx.log.timed(op, ctx.seconds)
    before = _store_files(store.path)
    t0 = time.perf_counter()
    store.compact()
    compaction = {"s": time.perf_counter() - t0}
    after = _store_files(store.path)
    compaction["bytes"] = sum(n for f, n in after.items() if f not in before)
    post = ctx.log.untimed(op, POST_COMPACT_OP, "post_compact")
    compaction["post_op_ms"] = post.latency_s * 1000.0
    last_batch = (query.lastProgress or {}).get("batchId", -1)
    observer.stop()

    checks, report = _check(ctx, store, repo, expect)
    report["compaction"] = compaction
    out = {"checks": checks, "report": report}
    if tracer is not None:
        out["layers"] = _layers(ctx, spark, listener, last_batch, compaction)
    return out


def _check(ctx, store, repo, expect) -> tuple[dict, dict]:
    import duckdb

    from cloudfabric_eventsourcing_spark.projections import IndexSelector

    projected = {
        r["Id"]: (int(r["NEvents"]), int(r["Purchases"]), int(r["ValueCents"]))
        for r in repo.to_df(selector=IndexSelector.ReadOnly).collect()
    }
    files = sorted(_store_files(store.path))
    con = duckdb.connect()
    recomputed = {
        sid: (int(n), int(p), int(v))
        for sid, n, p, v in con.execute(
            """
            SELECT stream_id,
                   count(*),
                   sum(CASE WHEN json_extract_string(event_data, '$.kind') = 'purchase'
                            THEN 1 ELSE 0 END),
                   sum(round(CAST(json_extract(event_data, '$.value') AS DOUBLE) * 100))
            FROM (SELECT DISTINCT ON (id) id, stream_id, event_data
                  FROM read_parquet(?))
            GROUP BY stream_id
            """,
            [files],
        ).fetchall()
    }
    con.close()
    tracked = {sid: tuple(v) for sid, v in expect.items()}
    wrong = {
        sid for sid in set(projected) | set(recomputed) | set(tracked)
        if not (projected.get(sid) == recomputed.get(sid) == tracked.get(sid))
    }
    for rec in ctx.log.records:
        if rec.ok and rec.payload in wrong:
            ctx.log.fail(rec, f"stream {rec.payload}: projection differs from recompute")

    def digest(rows: dict) -> str:
        return hashlib.sha256(repr(sorted(rows.items())).encode()).hexdigest()

    checks = {
        "projection_rows_equal_duckdb": len(projected) == len(recomputed),
        "projection_hash_equal_duckdb": digest(projected) == digest(recomputed),
        "projection_equal_tracked": projected == tracked,
    }
    return checks, {"projection_rows": len(projected), "projection_sha256": digest(projected)}


def _layers(ctx, spark, listener, last_batch: int, compaction: dict) -> dict:
    from perfbench import tracing

    tracer = ctx.tracer
    # progress reports arrive asynchronously; wait for the last batch
    deadline = time.monotonic() + 10.0
    while time.monotonic() < deadline and not any(
        b["batch"] >= last_batch for b in listener.batches
    ):
        time.sleep(0.1)
    timed = ctx.log.timed_records()
    ops = {r.index for r in timed}
    # the batches of the timed ops and of the post-compaction op
    fed = [r for r in ctx.log.records if r.phase != "warmup"]
    t_start = min(r.start_epoch for r in fed)
    t_end = max(r.end_epoch for r in fed)
    batches = [
        b for b in listener.batches
        if b["rows"] > 0 and t_start <= b["start"] <= t_end
    ]
    appended = sum(1 for r in fed if r.ok)
    rows = sum(b["rows"] for b in batches)
    rest = tracing.SparkRest(spark)
    rest.fetch()
    windows = [rest.window(b["start"], b["end"]) for b in batches]

    def phase(name: str) -> float:
        return median(b["durations_ms"].get(name, 0) for b in batches)

    return {
        "eventstore.compact_s": compaction["s"],
        "eventstore.compact_bytes_rewritten": compaction["bytes"],
        "eventstore.append_ms_p50": median(tracer.durations_ms("eventstore.append", ops)),
        "eventstore.to_df_ms_p50": median(tracer.durations_ms("eventstore.to_df", ops)),
        "streaming.batches": len(batches),
        "streaming.input_rows": rows,
        "streaming.redelivered_rows": rows - appended,
        "streaming.useful_row_ratio": appended / rows if rows else 0.0,
        "streaming.add_batch_ms_p50": phase("addBatch"),
        "streaming.latest_offset_ms_p50": phase("latestOffset"),
        "streaming.wal_commit_ms_p50": phase("walCommit"),
        "streaming.trigger_ms_p50": phase("triggerExecution"),
        "streaming.post_compact_round_ms": compaction["post_op_ms"],
        "streaming.spark_jobs_per_batch": median(w[0] for w in windows),
        "streaming.scan_rows_per_batch": median(w[1] for w in windows),
        "projections.merge_ms_p50": median(tracer.durations_ms("projections.merge", ops)),
        "projections.fold_plan_ms_p50": median(
            tracer.durations_ms("projections.fold_plan", ops)),
    }
