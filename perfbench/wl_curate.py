"""`curate`: one ``operators.curation.curate()`` pass per op, with the
default per-stage counts (``collect_stats=True``) and the boilerplate stage
on, over a small seeded corpus whose duplicates are known; the kept ids
are collected.  Near-duplicate (MinHash) removal is off: with it on, one
pass takes 12-19 s on a 4-core host, more than a run can hold.

Checks: the kept ids and the stats dict equal what the corpus generator
says they must be, and — for the seeds in expected.json — the pinned
kept-id hash and stats.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from perfbench import datagen, harness
from perfbench.harness import OpFailure, median

#: (distinct documents, exact copies)
SIZES = {"full": (56, 8), "smoke": (28, 4)}
MIN_DOCS = 4  # boilerplate threshold: lines in >= 4 documents are stripped
#: the first pass of a fresh JVM takes about twice as long as later ones,
#: and the second still costs about an eighth more CPU
WARMUP_PASSES = 2
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def kept_hash(ids) -> str:
    return hashlib.sha256(",".join(str(i) for i in sorted(ids)).encode()).hexdigest()


def run(ctx) -> dict:
    spark = ctx.setup.time("session", lambda: harness.start_spark(ctx.work, ctx.trace))
    try:
        return _run(ctx, spark)
    finally:
        harness.stop_spark(spark)


def _run(ctx, spark) -> dict:
    import pyarrow.parquet as pq

    from cloudfabric_eventsourcing_spark.operators import curation

    from perfbench import tracing

    size = "smoke" if ctx.smoke else "full"
    n_base, n_exact = SIZES[size]
    table, want = datagen.curation_corpus(ctx.seed, n_base, n_exact, MIN_DOCS)
    with open(EXPECTED) as fh:
        pinned = json.load(fh).get(f"{size}-seed-{ctx.seed}")

    def materialize():
        path = os.path.join(ctx.work, "corpus.parquet")
        pq.write_table(table, path)
        df = spark.read.parquet(path)
        df.count()
        return df

    docs = ctx.setup.time("materialize", materialize)

    materialize_s: dict[int, float] = {}

    def op(i: int) -> list[int]:
        out, stats = curation.curate(
            docs,
            boilerplate_min_docs=MIN_DOCS,
            neardup_threshold=None,
        )
        t0 = time.perf_counter()
        ids = sorted(r[0] for r in out.select("doc_id").collect())
        materialize_s[i] = time.perf_counter() - t0
        if ids != want["kept_ids"] or stats != want["stats"]:
            raise OpFailure(
                f"kept {len(ids)} ids (want {len(want['kept_ids'])}), stats {stats} "
                f"(want {want['stats']})"
            )
        if pinned is not None and (
            kept_hash(ids) != pinned["kept_sha256"] or stats != pinned["stats"]
        ):
            raise OpFailure("kept ids or stats differ from the pinned expected outputs")
        return ids

    ctx.setup.time("warmup", lambda: ctx.log.warmup(op, WARMUP_PASSES))

    tracer = ctx.tracer
    if tracer is not None:
        tracer.wrap(curation, "curate", "operators.curate")

    ctx.log.timed(op, ctx.seconds)

    report = {
        "corpus_docs": table.num_rows,
        "kept_sha256": kept_hash(want["kept_ids"]),
        "pinned": pinned is not None,
    }
    out = {"checks": {}, "report": report}
    if tracer is None:
        return out
    timed = ctx.log.timed_records()
    ops = {r.index for r in timed}
    rest = tracing.SparkRest(spark)
    rest.fetch()
    windows = [rest.window(r.start_epoch, r.end_epoch) for r in timed]
    out["layers"] = {
        "operators.curate_call_s": median(tracer.durations_ms("operators.curate", ops)) / 1000.0,
        "operators.materialize_s": median(materialize_s[i] for i in ops if i in materialize_s),
        "operators.spark_jobs_per_pass": median(w[0] for w in windows),
        "operators.scan_rows_per_pass": median(w[1] for w in windows),
        "operators.kept_docs": len(want["kept_ids"]),
    }
    return out
